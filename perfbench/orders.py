"""The reference pipeline: replayed Kafka orders → parse → curate →
broadcast city join → keyed upsert sink.

``orders_backfill`` drains a staged backlog under
``trigger(availableNow=True)``; ``orders_live`` feeds the same DAG open
loop from a separate release process at a fixed rate.  Both check the
sink against a last-write-wins recompute and, traced, replay each
micro-batch the stream formed with a materialisation boundary between
layers.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import shutil
import subprocess
import sys
import time
import urllib.parse
from dataclasses import dataclass

from perfbench import common
from perfbench.trace import Tracer

#: files per trigger of the backfill (1000 events each)
MAX_FILES_PER_TRIGGER = 8
#: timed backlog drains at least, whatever the window: the median of
#: four is steady against one slow drain
MIN_DRAINS = 4
#: backlog files of the untimed warm-up drain
WARM_FILES = 2
#: the live phase takes whatever has arrived
LIVE_MAX_FILES_PER_TRIGGER = 1_000
#: open-loop rate of the live phase (files of 50 events: 400 events/s).
#: Each file costs the trigger a fixed overhead, so at 16 files/s of 25
#: events a slow minute on the host already built a backlog; 8 files/s
#: stays well inside capacity
LIVE_FILES_PER_S = 8.0
#: files landed before the releases start so the stream is warm
LIVE_WARM_FILES = 8
#: seconds of releases before the measured window, so the live triggers
#: reach their steady size first
LIVE_RAMP_S = 2.0

SINK_COLS = (
    "order_number", "discounted_total", "data_key", "ship_to_city_id",
    "order_date", "ship_method", "fufilment_type", "city",
)


# --------------------------------------------------------------------------
# Correctness: last write by offset wins per data_key (the reference's
# Elasticsearch ``es.mapping.id`` semantics)
# --------------------------------------------------------------------------


def expected_row(payload: bytes, cities: dict[int, str]) -> tuple:
    """One curated+enriched row, recomputed in plain Python from the raw
    payload with the reference's formulas."""
    try:
        e = json.loads(payload)
    except ValueError:
        return (None, None, "", None, None, None, "Merchant", None)
    number, date, total, pct = (
        e.get("order_number"), e.get("order_date"), e.get("order_total"),
        e.get("discount_applied"),
    )
    net = None if total is None or pct is None else total - (pct / 100.0) * total
    key = "-".join(x for x in (number, None if date is None else date[:10]) if x is not None)
    fulfil = "Bexley" if number is not None and number[5:6] == "3" else "Merchant"
    city_id = e.get("ship_to_city_id")
    return (number, net, key, city_id, date, e.get("ship_method"), fulfil, cities.get(city_id))


def versions_by_key(envelopes: list[tuple[int, int, bytes]], cities: dict[int, str]) -> dict:
    """``data_key`` → every ``(micro-batch, row)`` version of its row, in
    offset order.  ``envelopes`` are ``(offset, micro-batch, payload)``."""
    out: dict[str, list[tuple[int, tuple]]] = {}
    for _, batch, payload in sorted(envelopes):
        row = expected_row(payload, cities)
        out.setdefault(row[2], []).append((batch, row))
    return out


def check_sink(sink_rows: list[tuple], versions: dict) -> dict:
    """Compare the sink table with the last-write-wins recompute.

    A key whose row is an earlier version from the same micro-batch as
    its last version is a last-write-wins violation inside that batch
    (counted, reported, not a failure).  Every other difference fails
    the check: a missing, extra or duplicated key, a value no version
    had, or a version from an earlier micro-batch (the upsert across
    batches kept a stale row)."""
    seen: dict[str, tuple] = {}
    mismatches = 0
    for row in sink_rows:
        if row[2] in seen:
            mismatches += 1
        seen[row[2]] = row
    lww = 0
    for key, vs in versions.items():
        got = seen.pop(key, None)
        last_batch, last = vs[-1]
        if got == last:
            continue
        if got is not None and (last_batch, got) in vs:
            lww += 1
        else:
            mismatches += 1
    mismatches += len(seen)
    return {"lww_violations": lww, "mismatches": mismatches, "keys": len(versions)}


def read_envelopes(batches: dict[int, list[str]]) -> list[tuple[int, int, bytes]]:
    """``(offset, micro-batch, payload)`` of every envelope in ``batches``
    (micro-batch → files)."""
    import pyarrow.parquet as pq

    out = []
    for batch, paths in batches.items():
        for p in paths:
            t = pq.read_table(p, columns=["offset", "value"])
            out.extend((o, batch, v) for o, v in
                       zip(t["offset"].to_pylist(), t["value"].to_pylist()))
    return out


def read_sink(path: str) -> list[tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=list(SINK_COLS))
    return list(zip(*(t[c].to_pylist() for c in SINK_COLS)))


def read_cities(path: str) -> dict[int, str]:
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    return dict(zip(t["city_id"].to_pylist(), t["city"].to_pylist()))


# --------------------------------------------------------------------------
# Micro-batch → files, from the file source's checkpoint log
# --------------------------------------------------------------------------


def _log_entries(path: str) -> list[dict]:
    out = []
    for f in glob.glob(os.path.join(path, "*")):
        base = os.path.basename(f)
        if base.startswith(".") or base.endswith(".crc"):
            continue
        with open(f) as fh:
            out.extend(json.loads(line) for line in fh.read().splitlines()[1:] if line)
    return out


def epoch_files(chk: str) -> dict[int, list[str]]:
    """Micro-batch id → the source files it read, from
    ``offsets/<batch>`` (the batch's ``logOffset``) and ``sources/0``
    (files per log batch)."""
    by_log: dict[int, list[str]] = {}
    for e in _log_entries(os.path.join(chk, "sources", "0")):
        by_log.setdefault(e["batchId"], []).append(urllib.parse.urlparse(e["path"]).path)
    out: dict[int, list[str]] = {}
    prev = -1
    for epoch in sorted(int(b) for b in os.listdir(os.path.join(chk, "offsets")) if b.isdigit()):
        with open(os.path.join(chk, "offsets", str(epoch))) as fh:
            log_offset = json.loads(fh.read().splitlines()[2])["logOffset"]
        out[epoch] = sorted(
            p for b in range(prev + 1, log_offset + 1) for p in by_log.get(b, [])
        )
        prev = log_offset
    return out


# --------------------------------------------------------------------------
# The stream
# --------------------------------------------------------------------------


@dataclass
class Drain:
    """One started orders query and the return time of each sink write."""

    query: object
    sink_path: str
    chk: str
    landed: dict


def start_stream(spark, env_dir: str, cities, out_dir: str, available_now: bool,
                 max_files: int = MAX_FILES_PER_TRIGGER) -> Drain:
    from spark_streaming_kafka2elasticsearch_spark.sources.files import (
        KafkaEnvelopeReplaySource,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import (
        orders_enrichment_stream,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.sinks import (
        KeyedUpsertParquetSink,
    )

    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    sink = KeyedUpsertParquetSink(os.path.join(out_dir, "table"))
    chk = os.path.join(out_dir, "chk")
    landed: dict[int, float] = {}

    def write(df, epoch_id):
        sink.write_batch(df, epoch_id)
        landed[epoch_id] = time.time()

    stream = orders_enrichment_stream(
        spark,
        KafkaEnvelopeReplaySource(env_dir),
        cities,
        max_files_per_trigger=max_files,
    )
    writer = stream.writeStream.foreachBatch(write).option("checkpointLocation", chk)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return Drain(writer.queryName("orders").start(), sink.path, chk, landed)


def progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def load_cities(spark, path: str):
    from spark_streaming_kafka2elasticsearch_spark.schemas import CITIES_DIM_SCHEMA

    return spark.read.schema(CITIES_DIM_SCHEMA).parquet(path)


# --------------------------------------------------------------------------
# Traced replay: each micro-batch as a bounded frame, layer by layer
# --------------------------------------------------------------------------


def traced_replay(spark, batches: list[list[str]], cities, out_dir: str, tracer: Tracer) -> dict:
    from spark_streaming_kafka2elasticsearch_spark.operators import curate, joins, merge
    from spark_streaming_kafka2elasticsearch_spark.sources.files import (
        KafkaEnvelopeReplaySource,
    )
    from spark_streaming_kafka2elasticsearch_spark.streaming.sinks import (
        KeyedUpsertParquetSink,
    )

    def cp(df):
        return df.localCheckpoint(eager=True)

    # ``write_batch`` looks ``merge_upsert`` up at call time, so wrapping
    # the module attribute from here times the upsert without touching
    # the package; the checkpoint separates it from the write.
    real_upsert = merge.merge_upsert

    def traced_upsert(*a, **kw):
        with tracer.span("operators.merge.upsert"):
            return cp(real_upsert(*a, **kw))

    shutil.rmtree(out_dir, ignore_errors=True)
    sink = KeyedUpsertParquetSink(os.path.join(out_dir, "table"))
    c = {"malformed": 0, "unmatched": 0, "written": 0, "new_keys": 0, "hit_keys": 0}
    merge.merge_upsert = traced_upsert
    try:
        for epoch, files in enumerate(batches):
            with tracer.span("sources.files.load"):
                raw = cp(functools.reduce(
                    lambda a, b: a.unionByName(b),
                    (KafkaEnvelopeReplaySource(f).load(spark) for f in files),
                ).selectExpr("CAST(value AS STRING) AS value"))
            with tracer.span("operators.curate.parse"):
                parsed = cp(curate.parse_json_events(raw))
            with tracer.span("operators.curate.curate"):
                curated = cp(curate.curate_orders(parsed))
            with tracer.span("operators.joins.enrich"):
                enriched = cp(joins.enrich_stream_static(
                    curated, cities, "ship_to_city_id", "city_id", cache_dim=True
                ))
            c["malformed"] += parsed.filter("order_number IS NULL").count()
            c["unmatched"] += enriched.filter(
                "city IS NULL AND ship_to_city_id IS NOT NULL").count()
            keys = enriched.select("data_key").distinct()
            c["new_keys"] += keys.count()
            if os.path.exists(sink.path):
                c["hit_keys"] += keys.join(sink.read(spark).select("data_key"), "data_key").count()
            with tracer.span("streaming.sinks.write"):
                sink.write_batch(enriched, epoch)
            c["written"] += common.dir_bytes(sink.path)
    finally:
        merge.merge_upsert = real_upsert
    table_bytes = common.dir_bytes(sink.path)
    return {
        "operators.curate.malformed_rows": float(c["malformed"]),
        "operators.joins.unmatched_rows": float(c["unmatched"]),
        "streaming.sinks.table_rows": float(sink.read(spark).count()),
        "streaming.sinks.bytes_written": float(c["written"]),
        "streaming.sinks.write_amplification": c["written"] / table_bytes,
        "streaming.sinks.upsert_hit_ratio": c["hit_keys"] / max(1, c["new_keys"]),
    }


# --------------------------------------------------------------------------
# The ``orders`` workload: a backfill phase, then a live phase
# --------------------------------------------------------------------------


@dataclass
class Input:
    """One staged envelope set: its directory and events per file."""

    dir: str
    events: dict  # file name -> events

    @classmethod
    def of(cls, root: str, manifest: dict) -> Input:
        return cls(
            os.path.normpath(os.path.join(root, manifest["dir"])),
            {f["name"]: f["events"] for f in manifest["files"]},
        )

    @property
    def envelopes(self) -> str:
        return os.path.join(self.dir, "envelopes")

    @property
    def cities(self) -> str:
        return os.path.join(self.dir, "cities.parquet")

    def count(self, paths) -> int:
        return sum(self.events[os.path.basename(p)] for p in paths)


def _check(sink_path: str, chk: str, staged: list[str], cities_path: str) -> dict:
    """The sink against the recompute over the files each micro-batch
    read; a staged file no micro-batch read is a mismatch too."""
    batches = epoch_files(chk)
    read = {os.path.normpath(p) for ps in batches.values() for p in ps}
    versions = versions_by_key(read_envelopes(batches), read_cities(cities_path))
    out = check_sink(read_sink(sink_path), versions)
    out["mismatches"] += len(read ^ {os.path.normpath(p) for p in staged})
    return out


def backfill(spark, inp: Input, seconds: float, work: str) -> dict:
    """Drain the whole backlog repeatedly, each time into a fresh sink
    and checkpoint, until ``seconds`` have passed and at least
    ``MIN_DRAINS`` times; eps is the median over drains.  An untimed
    drain of the first ``WARM_FILES`` files, one per trigger, first
    warms the JVM and codegen on both sink paths (create, then merge);
    warming on the whole backlog would cost a run seconds more for the
    same compiled code."""
    cities = load_cities(spark, inp.cities)
    n_events = sum(inp.events.values())

    def drain(tag: str) -> tuple[float, float, Drain]:
        start, t0 = time.time(), time.perf_counter()
        d = start_stream(spark, inp.envelopes, cities, os.path.join(work, tag), True)
        d.query.awaitTermination()
        return start, time.perf_counter() - t0, d

    warm_dir = os.path.join(work, "warm_envelopes")
    os.makedirs(warm_dir)
    for name in sorted(inp.events)[:WARM_FILES]:
        os.link(os.path.join(inp.envelopes, name), os.path.join(warm_dir, name))
    t_warm = time.perf_counter()
    warm = start_stream(spark, warm_dir, cities, os.path.join(work, "warm"), True, 1)
    warm.query.awaitTermination()
    warm_s = time.perf_counter() - t_warm
    walls, lat = [], []
    deadline = time.perf_counter() + seconds
    while len(walls) < MIN_DRAINS or time.perf_counter() < deadline:
        start, wall, d = drain(f"drain{len(walls) % 2}")
        walls.append(wall)
        # freshness on a backlog: every event was due at drain start
        for epoch, paths in epoch_files(d.chk).items():
            lat.extend([d.landed[epoch] - start] * inp.count(paths))
    heap_mb = common.live_heap_mb(spark)
    batches = [epoch_files(d.chk)[e] for e in sorted(d.landed)]
    return {
        "warm_s": warm_s,
        "attempted": len(walls) * len(batches),
        "eps": n_events / common.median(walls),
        "drain_s": common.median(walls),
        "heap_mb": heap_mb,
        "freshness": lat,
        "batches": batches,
        "check": _check(d.sink_path, d.chk, glob.glob(inp.envelopes + "/*.parquet"),
                        inp.cities),
    }


def live(spark, inp: Input, seconds: float, work: str) -> dict:
    """Open loop: a separate process releases pre-built files into the
    watched directory at ``LIVE_FILES_PER_S``; each event's latency runs
    from its file's due time to the return of the sink write that lands
    it.  Files landed before the releases start warm the new query, and
    the first ``LIVE_RAMP_S`` of releases bring its triggers to their
    steady size; neither is measured."""
    watch = os.path.join(work, "watch")
    shutil.rmtree(watch, ignore_errors=True)
    os.makedirs(watch)
    cities = load_cities(spark, inp.cities)
    names = sorted(inp.events)
    n_ramp = int(LIVE_RAMP_S * LIVE_FILES_PER_S)
    n_due = min(len(names) - LIVE_WARM_FILES - n_ramp, int(seconds * LIVE_FILES_PER_S))
    if n_due < 1:
        raise ValueError("not enough staged files for the live window")

    t_warm = time.perf_counter()
    d = start_stream(spark, watch, cities, os.path.join(work, "live"), False,
                     LIVE_MAX_FILES_PER_TRIGGER)
    try:
        for name in names[:LIVE_WARM_FILES]:
            os.rename(os.path.join(inp.envelopes, name), os.path.join(watch, name))
        d.query.processAllAvailable()
        warm_s = time.perf_counter() - t_warm
        t0 = time.time() + 0.2
        rel = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                          "release.py"),
             "--stage", inp.envelopes, "--watch", watch, "--t0", repr(t0),
             "--rate", repr(LIVE_FILES_PER_S), "--skip", str(LIVE_WARM_FILES),
             "--count", str(n_ramp + n_due)],
            stdout=subprocess.PIPE, text=True,
        )
        try:
            out, _ = rel.communicate(timeout=seconds + 60)
        finally:
            if rel.poll() is None:
                rel.kill()
                rel.wait()
        if rel.returncode != 0:
            raise RuntimeError("release process failed")
        releases = json.loads(out)[n_ramp:]
        d.query.processAllAvailable()
        prog = progress(d.query)
    finally:
        d.query.stop()
    files = epoch_files(d.chk)
    landed_at = {os.path.basename(p): d.landed[e] for e, ps in files.items() for p in ps}
    lat = []
    for r in releases:
        lat.extend([landed_at[r["name"]] - r["due"]] * inp.events[r["name"]])
    # events due in the window but not landed when it closed
    t_end = t0 + (n_ramp + n_due) / LIVE_FILES_PER_S
    backlog = sum(inp.events[r["name"]] for r in releases if landed_at[r["name"]] > t_end)
    return {
        "warm_s": warm_s + LIVE_RAMP_S,
        "attempted": len(files),
        "latency": lat,
        "late": [r["released"] - r["due"] for r in releases],
        "backlog_end_events": backlog,
        "progress": prog,
        "check": _check(d.sink_path, d.chk, glob.glob(watch + "/*.parquet"), inp.cities),
    }


def run(spark, staged: dict, seconds: float, tracer: Tracer, work: str) -> dict:
    """``orders``: the backfill phase gives throughput (events/s) from
    at least ``MIN_DRAINS`` drains; the live phase gives latency over
    three quarters of ``seconds``."""
    backlog = Input.of(staged["dir"], staged["backlog"])
    feed = Input.of(staged["dir"], staged["live"])
    b = backfill(spark, backlog, seconds / 4, work)
    lv = live(spark, feed, seconds * 3 / 4, work)
    # the engine's per-trigger layers, from the live phase: there the
    # fixed per-trigger cost is what a user waits for
    layers = common.progress_metrics(lv["progress"])
    layers["orders_live.generator_late_p99_s"] = common.percentile(lv["late"], 99)
    layers["orders_live.backlog_end_events"] = float(lv["backlog_end_events"])
    lww = b["check"]["lww_violations"] + lv["check"]["lww_violations"]
    result = {
        "warm_s": b["warm_s"] + lv["warm_s"],
        # after the backfill's fixed work; the live phase's trigger count
        # varies with speed, and so would the heap the engine retains
        "heap_mb": b["heap_mb"],
        "attempted": b["attempted"] + lv["attempted"],
        "throughput": b["eps"],
        "latency": lv["latency"],
        "layers": layers,
        "check": {
            "mismatches": b["check"]["mismatches"] + lv["check"]["mismatches"],
            "lww_violations": lww,
            "keys": b["check"]["keys"] + lv["check"]["keys"],
        },
        "named": {
            "orders_backfill_eps": (b["eps"], "events/s"),
            "orders_backfill_freshness_p50_s": (common.percentile(b["freshness"], 50), "s"),
            "orders_live_latency_p50_s": (common.percentile(lv["latency"], 50), "s"),
            "orders_live_latency_p90_s": (common.percentile(lv["latency"], 90), "s"),
            "orders_live_latency_p99_s": (common.percentile(lv["latency"], 99), "s"),
            "streaming.sinks.lww_violations": (lww, "count"),
            "orders_backfill.warm_s": (b["warm_s"], "s"),
            "orders_live.warm_s": (lv["warm_s"], "s"),
            "orders_live.backlog_end_events": (lv["backlog_end_events"], "count"),
        },
    }
    if tracer.enabled:
        cities = load_cities(spark, backlog.cities)
        t0 = time.perf_counter()
        result["layers"].update(traced_replay(
            spark, b["batches"], cities, os.path.join(work, "replay"), tracer))
        result["traced_wall"] = time.perf_counter() - t0
        result["untraced_wall"] = b["drain_s"]
        result["backfill_eps"] = b["eps"]
        result["backlog"] = backlog
    return result


def scaling(build, inp: Input, eps_full: float, work: str) -> float:
    """Backfill eps at ``local[4]`` (from the measured phase) over eps at
    ``local[1]``: one warm and one timed drain on a fresh session."""
    spark = build(1)
    try:
        cities = load_cities(spark, inp.cities)
        for tag in ("warm", "timed"):
            t0 = time.perf_counter()
            d = start_stream(spark, inp.envelopes, cities, os.path.join(work, f"one_{tag}"), True)
            d.query.awaitTermination()
        return eps_full / (sum(inp.events.values()) / (time.perf_counter() - t0))
    finally:
        spark.stop()
