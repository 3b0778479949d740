"""Tests for the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, REPO)

from perfbench import common, front_door, gen, orders  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.trace import Span, Tracer  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


@pytest.mark.parametrize("workload", ["orders", "llm"])
def test_generator_is_deterministic(tmp_path, workload):
    gen.stage(workload, 11, str(tmp_path / "a"))
    gen.stage(workload, 11, str(tmp_path / "b"))
    a, b = _tree(str(tmp_path / "a")), _tree(str(tmp_path / "b"))
    assert a and a == b
    gen.stage(workload, 12, str(tmp_path / "c"))
    assert _tree(str(tmp_path / "c")) != a


def test_generator_dimensions_show_in_the_data():
    p = gen.OrdersParams(n_events=4_000, events_per_file=500)
    files = gen.order_events(p, 3)
    events = [json.loads(v) if v.endswith(b"}") else None for f in files for v in f]
    malformed = sum(e is None for e in events)
    keys = [(e["order_number"], e["order_date"]) for e in events if e]
    unmatched = sum(e["ship_to_city_id"] > p.n_cities for e in events if e)
    assert 0 < malformed < 0.05 * len(events)
    assert len(set(keys)) < 0.9 * len(keys)  # keys are reused
    assert 0 < unmatched < 0.15 * len(keys)
    in_file = 0
    for f in files:
        ks = [(e["order_number"], e["order_date"]) for e in map(
            lambda v: json.loads(v) if v.endswith(b"}") else None, f) if e]
        in_file += len(ks) - len(set(ks))
    assert in_file > 0  # reuse inside one file, so inside one micro-batch


def test_metric_names_follow_the_contract():
    for name, (unit, better) in {**END_TO_END, **PER_LAYER}.items():
        assert NAME.fullmatch(name), name
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", unit), unit
        assert better in ("higher", "lower")
    assert not set(END_TO_END) & set(PER_LAYER)
    assert len(PER_LAYER) <= 128


def test_benchmark_json_matches_the_metric_tables():
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == PER_LAYER
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert bench["paths"] == ["perfbench"]
    assert 2 <= len(bench["workloads"]) <= 8


def _order(number: str, day: str, total: float, city: int = 1) -> bytes:
    return json.dumps({
        "order_id": 1, "order_total": total, "ship_to_city_id": city, "freight": 1.0,
        "customer_id": 1, "ship_method": "Standard", "order_number": number,
        "discount_applied": 10.0, "order_date": f"2024-01-{day} 10:00:00",
        "order_basket": [],
    }).encode()


def _versions():
    envelopes = [  # (offset, micro-batch, payload)
        (0, 0, _order("SO0000001", "01", 100.0)),
        (1, 0, _order("SO0000002", "02", 50.0, city=999)),
        (2, 0, _order("SO0000001", "01", 120.0)),  # re-send in the same batch
        (3, 0, b'{"order_id": 4, "order_total": '),  # malformed
        (4, 0, _order("SO0000003", "03", 10.0)),
        (5, 1, _order("SO0000003", "03", 30.0)),  # re-send in a later batch
    ]
    return orders.versions_by_key(envelopes, {1: "City_0001"})


def _last(versions):
    return [vs[-1][1] for vs in versions.values()]


def test_orders_check_accepts_last_write_wins():
    versions = _versions()
    sink = _last(versions)
    assert orders.check_sink(sink, versions) == {
        "lww_violations": 0, "mismatches": 0, "keys": 4}
    assert sink[0][1] == 120.0 - 0.1 * 120.0
    assert sink[1][7] is None  # unmatched city stays, null enriched


def test_orders_check_counts_an_earlier_in_batch_version_as_lww_violation():
    versions = _versions()
    sink = [versions["SO0000001-2024-01-01"][0][1]] + _last(versions)[1:]
    assert orders.check_sink(sink, versions) == {
        "lww_violations": 1, "mismatches": 0, "keys": 4}


def test_orders_check_fails_on_a_stale_row_from_an_earlier_batch():
    versions = _versions()
    stale = versions["SO0000003-2024-01-03"][0]
    assert stale[0] == 0
    sink = _last(versions)[:-1] + [stale[1]]
    assert orders.check_sink(sink, versions) == {
        "lww_violations": 0, "mismatches": 1, "keys": 4}


def test_orders_check_fails_on_a_corrupted_sink_row():
    versions = _versions()
    sink = _last(versions)
    bad = list(sink[0])
    bad[1] += 0.01
    assert orders.check_sink([tuple(bad)] + sink[1:], versions)["mismatches"] == 1
    assert orders.check_sink(sink[1:], versions)["mismatches"] == 1  # lost key
    assert orders.check_sink(sink + [sink[0]], versions)["mismatches"] == 1  # duplicate


def test_front_door_check_fails_on_a_dropped_doc():
    docs = [(1, 0.5), (2, 0.7)]
    tokens = [(1, 3, ("<a>", "<b>", "<c>")), (2, 1, ("<d>",))]
    assert front_door.check(docs, tokens, docs, tokens)["mismatches"] == 0
    assert front_door.check(docs[:1], tokens, docs, tokens)["mismatches"] == 1
    assert front_door.check(docs, tokens[:1], docs, tokens)["mismatches"] == 1
    assert front_door.check(docs + docs[:1], tokens, docs, tokens)["mismatches"] == 1


def test_epoch_files_reads_the_checkpoint_log(tmp_path):
    chk = tmp_path / "chk"
    (chk / "offsets").mkdir(parents=True)
    (chk / "sources" / "0").mkdir(parents=True)
    for batch, log_offset in ((0, 0), (1, 2)):
        (chk / "offsets" / str(batch)).write_text(
            'v1\n{"batchWatermarkMs":0}\n{"logOffset":%d}\n' % log_offset)
    for log, names in ((0, ["a", "b"]), (1, ["c"]), (2, ["d"])):
        lines = ["v1"] + [json.dumps({"path": f"file:///x/{n}.parquet", "batchId": log})
                          for n in names]
        (chk / "sources" / "0" / str(log)).write_text("\n".join(lines) + "\n")
    assert orders.epoch_files(str(chk)) == {
        0: ["/x/a.parquet", "/x/b.parquet"],
        1: ["/x/c.parquet", "/x/d.parquet"],
    }


def test_layer_figures_are_per_batch_not_summed_over_batches():
    def progress(rows, add_ms):
        return {"numInputRows": rows, "stateOperators": [], "durationMs": {
            "addBatch": add_ms, "walCommit": 10, "commitOffsets": 5,
            "latestOffset": 1, "getBatch": 0, "queryPlanning": 2}}

    prog = [progress(0, 9_000), progress(100, 1_000), progress(300, 3_000),
            progress(200, 2_000)]
    m = common.progress_metrics(prog)
    assert m["streaming.batches"] == 3  # the idle trigger is not a batch
    assert m["streaming.rows_per_batch"] == 200
    assert m["streaming.add_batch_s"] == 2.0
    assert m["streaming.commit_s"] == 0.015
    # one span per replayed batch: the median, not the sum, is reported
    tracer = Tracer()
    for i, (start, end) in enumerate(((0.0, 1.0), (1.0, 4.0), (4.0, 6.0))):
        tracer.spans.append(Span("batch", start, end, None, "r", 2 * i))
        tracer.spans.append(Span("batch.inner", start, start + 0.5, 2 * i, "r", 2 * i + 1))
    assert tracer.median_self_times() == {"batch": 1.5, "batch.inner": 0.5}
    assert tracer.self_times() == {"batch": 4.5, "batch.inner": 1.5}
