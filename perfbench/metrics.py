"""Every metric the benchmark prints: name, unit and which way is better.

End-to-end metrics are printed by untraced runs (``--trace 0``) on every
workload.  Per-layer metrics are printed by traced runs (``--trace 1``)
on every workload; a layer a workload does not reach reports 0.
"""

from __future__ import annotations

from perfbench.query_mix import QUERIES

END_TO_END: dict[str, tuple[str, str]] = {
    "setup_s": ("s", "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "latency_p50_s": ("s", "lower"),
    "latency_p90_s": ("s", "lower"),
    "peak_mem_mb": ("MB", "lower"),
}

_LAYERS: list[tuple[str, str]] = [
    # Spark's own StreamingQueryProgress, every streaming workload
    ("streaming.batches", "count"),
    ("streaming.rows_per_batch", "rows"),
    ("streaming.add_batch_s", "s"),
    ("streaming.commit_s", "s"),
    ("streaming.offsets_s", "s"),
    ("streaming.planning_s", "s"),
    # open-loop generator health
    ("orders_live.generator_late_p99_s", "s"),
    ("orders_live.backlog_end_events", "count"),
    # orders traced replay: self times
    ("sources.files.load_s", "s"),
    ("operators.curate.parse_s", "s"),
    ("operators.curate.curate_s", "s"),
    ("operators.joins.enrich_s", "s"),
    ("operators.merge.upsert_s", "s"),
    ("streaming.sinks.write_s", "s"),
    # orders traced replay: counts
    ("operators.curate.malformed_rows", "count"),
    ("operators.joins.unmatched_rows", "count"),
    ("streaming.sinks.table_rows", "count"),
    ("streaming.sinks.bytes_written", "bytes"),
    ("streaming.sinks.write_amplification", "ratio"),
    ("streaming.sinks.upsert_hit_ratio", "ratio"),
    ("streaming.sinks.lww_violations", "count"),
    ("orders_backfill.scaling", "ratio"),
    # front door traced replay: self times
    ("operators.text.quality_s", "s"),
    ("operators.text.fingerprint_s", "s"),
    ("operators.dedup.near_dup_s", "s"),
    ("operators.text.dsir_s", "s"),
    ("operators.similarity.decon_s", "s"),
    ("operators.text.bpe_encode_s", "s"),
    ("sources.writer.land_s", "s"),
    # front door state store, from progress stateOperators
    ("streaming.stateful.first_seen_s", "s"),
    ("streaming.stateful.state_rows", "count"),
    ("streaming.stateful.state_bytes", "bytes"),
    # front door gate pass rates
    ("gate.quality.kept", "ratio"),
    ("gate.exact_dup.kept", "ratio"),
    ("gate.near_dup.kept", "ratio"),
    ("gate.dsir.kept", "ratio"),
    ("gate.semantic.kept", "ratio"),
]
for _q in QUERIES:
    _LAYERS += [
        (f"{_q}.construct_s", "s"),
        (f"{_q}.execute_s", "s"),
        (f"{_q}.jobs", "count"),
        (f"{_q}.tasks", "count"),
    ]
_LAYERS += [
    ("session.build_s", "s"),
    ("session.warm_s", "s"),
    ("trace.coverage", "ratio"),
    ("trace.overhead_s", "s"),
    ("failed_frac", "ratio"),
]

#: per-layer metrics that should grow; everything else is "lower".  At a
#: fixed input rate a cheaper trigger makes more, smaller live batches
HIGHER = ("streaming.batches", "orders_backfill.scaling", "trace.coverage")

#: per-layer metrics with their unit and which way is better
PER_LAYER: dict[str, tuple[str, str]] = {
    name: (unit, "higher" if name in HIGHER else "lower") for name, unit in _LAYERS
}
