"""Seeded input generators for every benchmark workload.

Run as its own process before any timing starts:

    python3 perfbench/gen.py --workload orders_backfill --seed 7 --out DIR

The same ``--seed`` gives byte-identical files.  Every traffic dimension
is a named field of the workload's parameter dataclass below; the
benchmark records those values in its output so a run says exactly what
it measured.  The program under test only ever sees the files written
here.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import sys
from dataclasses import dataclass

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --------------------------------------------------------------------------
# Workload parameters (one dataclass per input family)
# --------------------------------------------------------------------------


#: orders per basket length 1, 2, ..., 17: the lines per order of the
#: repository's ``lineitem`` fixture at sf 0.1 (FIXTURES.md F1 maps
#: ``order_basket`` onto ``lineitem``), the one traffic dimension a
#: repository fixture gives
FIXTURE_BASKET_LENGTHS = (
    11016, 21814, 29500, 29097, 23631, 15625, 8941, 4407, 1959, 818, 292, 93, 29, 10, 1, 2, 1,
)


@dataclass(frozen=True)
class OrdersParams:
    """Replayed Kafka order events.  One file is one producer batch.

    The reference and its fixtures name these edge cases (FIXTURES.md
    F1) but give no shares for them, so every ``*_frac`` below is an
    unverified assumption, chosen to put each case in every micro-batch
    and to keep valid, matched, new keys the bulk of the traffic.  The
    ``orders`` metrics barely move with them (perfbench/README.md,
    "Assumed traffic mix")."""

    n_events: int = 16_000
    events_per_file: int = 1_000
    #: share of events that re-send an already used ``data_key``
    #: (assumed)
    key_reuse_frac: float = 0.2
    #: of those re-sends, the share whose earlier version sits in the
    #: same file, so inside one micro-batch whatever the trigger size
    #: (assumed)
    in_file_reuse_frac: float = 0.5
    #: assumed
    malformed_frac: float = 0.01
    #: assumed
    unmatched_city_frac: float = 0.05
    #: weights of basket lengths 1, 2, ...; from the fixture
    basket_len_weights: tuple = FIXTURE_BASKET_LENGTHS
    n_cities: int = 400


@dataclass(frozen=True)
class FrontDoorParams:
    """Crawled documents for the five-gate front door.

    Every ``*_frac`` is an unverified assumption: no fixture or source
    gives the shares of a real crawl.  They are set so each gate drops
    some documents of every batch (perfbench/README.md, "Assumed
    traffic mix")."""

    n_files: int = 6
    docs_per_file: int = 200
    n_corpus: int = 1_500
    vocab_size: int = 3_000
    doc_len_min: int = 12
    doc_len_max: int = 40
    emb_dim: int = 16
    n_evals: int = 40
    low_quality_frac: float = 0.05
    #: re-sends of a document from an EARLIER file (cross-batch, so the
    #: first-seen winner is defined by arrival order)
    exact_dup_frac: float = 0.08
    near_dup_frac: float = 0.08
    off_topic_frac: float = 0.1
    contaminated_frac: float = 0.05
    missing_embedding_frac: float = 0.02


@dataclass(frozen=True)
class TablesParams:
    """Star-schema tables in the registry's ``sf_dir`` layout."""

    sf: float = 0.01


LANGS = ("en", "de", "fr", "es", "zh")
SHIP_METHODS = ("Standard", "Express", "Next Day", "Collect")


def _rng(seed: int, stream: str) -> np.random.Generator:
    # Independent stream per input family: adding a table never shifts
    # another table's draws.
    tag = int.from_bytes(stream.encode(), "little") % (2**31)
    return np.random.default_rng([seed, tag])


# --------------------------------------------------------------------------
# Orders
# --------------------------------------------------------------------------


def order_events(p: OrdersParams, seed: int) -> list[list[bytes]]:
    """JSON order payloads, grouped per file.  Re-sends copy the
    ``order_number`` and ``order_date`` of an earlier event (same
    ``data_key``) with a new total, freight and ship method."""
    rng = _rng(seed, "orders")
    files: list[list[bytes]] = []
    keys: list[tuple[str, str]] = []  # (order_number, order_date) in order
    n = p.events_per_file
    for fi in range(p.n_events // n):
        file_start = len(keys)
        u = rng.random((n, 4))
        pick = rng.random(n)
        number = rng.integers(0, 10_000_000, n)
        stamp = rng.integers([1, 1, 0, 0, 0], [13, 29, 24, 60, 60], (n, 5))
        city = np.where(
            u[:, 3] < p.unmatched_city_frac,
            p.n_cities + rng.integers(1, 1_000, n),
            rng.integers(1, p.n_cities + 1, n),
        )
        total = np.round(rng.uniform(5, 900, n), 2)
        freight = np.round(rng.uniform(0, 40, n), 2)
        customer = rng.integers(1, 50_000, n)
        method = rng.integers(0, len(SHIP_METHODS), n)
        discount = rng.choice([0.0, 5.0, 10.0, 15.0], n)
        weights = np.asarray(p.basket_len_weights, dtype=float)
        basket_len = 1 + rng.choice(len(weights), n, p=weights / weights.sum())
        items = rng.integers([1, 1, 0], [10, 5_000, 10], (int(basket_len.sum()), 3))
        payloads: list[bytes] = []
        at = 0
        for i in range(n):
            order_id = fi * n + i + 1
            basket = [
                {"order_qty": int(q), "product_id": int(pid), "is_discounted": bool(d < 3)}
                for q, pid, d in items[at: at + basket_len[i]]
            ]
            at += basket_len[i]
            if u[i, 0] < p.malformed_frac:
                payloads.append(b'{"order_id": %d, "order_total": ' % order_id)
                continue
            if u[i, 1] < p.key_reuse_frac and keys:
                same_file = u[i, 2] < p.in_file_reuse_frac and len(keys) > file_start
                lo = file_start if same_file else 0
                key = keys[lo + int(pick[i] * (len(keys) - lo))]
            else:
                key = ("SO%07d" % number[i], "2024-%02d-%02d %02d:%02d:%02d" % tuple(stamp[i]))
            keys.append(key)
            event = {
                "order_id": order_id,
                "order_total": float(total[i]),
                "ship_to_city_id": int(city[i]),
                "freight": float(freight[i]),
                "customer_id": int(customer[i]),
                "ship_method": SHIP_METHODS[method[i]],
                "order_number": key[0],
                "discount_applied": float(discount[i]),
                "order_date": key[1],
                "order_basket": basket,
            }
            payloads.append(json.dumps(event, separators=(",", ":")).encode())
        files.append(payloads)
    return files


def stage_orders(out: str, p: OrdersParams, seed: int) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, REPO)
    from spark_streaming_kafka2elasticsearch_spark.sources.files import (
        KafkaEnvelopeReplaySource,
    )

    env_dir = os.path.join(out, "envelopes")
    src = KafkaEnvelopeReplaySource(env_dir)
    files = []
    for i, payloads in enumerate(order_events(p, seed)):
        name = "batch-%06d" % i
        src.append_batch([{"value": v} for v in payloads], batch_name=name)
        files.append({"name": name + ".parquet", "events": len(payloads)})
    cities = pa.table(
        {
            "city_id": pa.array(range(1, p.n_cities + 1), pa.int32()),
            "city": ["City_%04d" % i for i in range(1, p.n_cities + 1)],
        }
    )
    pq.write_table(cities, os.path.join(out, "cities.parquet"))
    return {"dir": out, "files": files}


# --------------------------------------------------------------------------
# Documents, embeddings and the front-door artifacts
# --------------------------------------------------------------------------


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    sy = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu",
          "di", "fe", "go", "hu", "ja", "be", "co", "xi", "yo"]
    words: set[str] = set()
    out: list[str] = []
    while len(out) < n:
        w = "".join(sy[i] for i in rng.integers(0, len(sy), int(rng.integers(2, 5))))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def _text(rng: np.random.Generator, vocab: list[str], lo: int, hi: int) -> str:
    # Zipf-ish word choice: realistic shingle document frequencies.
    idx = np.minimum(rng.zipf(1.3, int(rng.integers(lo, hi + 1))) - 1, len(vocab) - 1)
    return " ".join(vocab[i] for i in idx)


def _unit(rng: np.random.Generator, dim: int) -> list[float]:
    v = rng.normal(size=dim)
    return [float(x) for x in v / np.linalg.norm(v)]


def front_door_inputs(p: FrontDoorParams, seed: int) -> dict:
    """Everything the front door needs, as plain Python rows.

    The on-topic vocabulary is the first half of the word list and the
    off-topic one the second half, so the DSIR weights fit on the two
    halves separate them."""
    rng = _rng(seed, "front_door")
    vocab = _vocab(rng, p.vocab_size)
    on, off = vocab[: p.vocab_size // 2], vocab[p.vocab_size // 2:]

    corpus = [
        (1_000_000 + i, LANGS[i % len(LANGS)], _text(rng, on, p.doc_len_min, p.doc_len_max))
        for i in range(p.n_corpus)
    ]
    fit = [(_text(rng, on, 20, 40), True) for _ in range(300)] + [
        (_text(rng, off, 20, 40), False) for _ in range(300)
    ]
    counts = np.bincount(
        np.minimum(rng.zipf(1.3, 40_000) - 1, len(on) - 1), minlength=len(on)
    )
    word_freq = [(w, int(c)) for w, c in zip(on, counts) if c > 0][:200]
    evals = [(900_000 + i, _unit(rng, p.emb_dim)) for i in range(p.n_evals)]

    files: list[list[tuple[int, str, str]]] = []
    embeddings: list[tuple[int, list[float]]] = []
    sent: list[tuple[int, str, str]] = []
    doc_id = 0
    for _ in range(p.n_files):
        batch = []
        for _ in range(p.docs_per_file):
            doc_id += 1
            lang = LANGS[int(rng.integers(0, len(LANGS)))]
            u = rng.random(6)
            if u[0] < p.exact_dup_frac and sent:
                # case/whitespace variant of an earlier file's doc
                _, lang, text = sent[int(rng.integers(0, len(sent)))]
                text = "  " + text.upper() + " "
            elif u[1] < p.low_quality_frac:
                text = " ".join(str(x) for x in rng.integers(0, 99, 12))
            elif u[2] < p.near_dup_frac:
                _, lang, text = corpus[int(rng.integers(0, len(corpus)))]
                words = text.split()
                words[int(rng.integers(0, len(words)))] = on[int(rng.integers(0, len(on)))]
                text = " ".join(words)
            elif u[3] < p.off_topic_frac:
                text = _text(rng, off, p.doc_len_min, p.doc_len_max)
            else:
                text = _text(rng, on, p.doc_len_min, p.doc_len_max)
            batch.append((doc_id, lang, text))
            if u[4] >= p.missing_embedding_frac:
                if u[5] < p.contaminated_frac:
                    ev = np.asarray(evals[int(rng.integers(0, len(evals)))][1])
                    vec = ev + rng.normal(scale=0.01, size=p.emb_dim)
                    embeddings.append((doc_id, [float(x) for x in vec]))
                else:
                    embeddings.append((doc_id, _unit(rng, p.emb_dim)))
        sent.extend(batch)
        files.append(batch)
    return {
        "corpus": corpus,
        "fit": fit,
        "word_freq": word_freq,
        "evals": evals,
        "files": files,
        "embeddings": embeddings,
    }


def stage_front_door(out: str, p: FrontDoorParams, seed: int) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = front_door_inputs(p, seed)
    docs_dir = os.path.join(out, "docs")
    os.makedirs(docs_dir, exist_ok=True)
    names = []
    for i, batch in enumerate(d["files"]):
        name = "docs-%06d.json" % i
        lines = [
            json.dumps({"doc_id": i_, "lang": lang, "text": text}) for i_, lang, text in batch
        ]
        tmp = os.path.join(docs_dir, "." + name + ".tmp")
        with open(tmp, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(docs_dir, name))
        names.append({"name": name, "docs": len(batch)})

    def write(name: str, cols: dict, schema: pa.Schema) -> None:
        pq.write_table(pa.table(cols, schema=schema), os.path.join(out, name))

    c = d["corpus"]
    write("corpus.parquet", {"doc_id": [r[0] for r in c], "lang": [r[1] for r in c],
                             "text": [r[2] for r in c]},
          pa.schema([("doc_id", pa.int64()), ("lang", pa.string()), ("text", pa.string())]))
    write("fit.parquet", {"text": [r[0] for r in d["fit"]], "tgt": [r[1] for r in d["fit"]]},
          pa.schema([("text", pa.string()), ("tgt", pa.bool_())]))
    wf = d["word_freq"]
    write("word_freq.parquet", {"tok": [r[0] for r in wf], "c": [r[1] for r in wf]},
          pa.schema([("tok", pa.string()), ("c", pa.int64())]))
    ev = d["evals"]
    write("evals.parquet", {"eval_id": [r[0] for r in ev], "eval_vec": [r[1] for r in ev]},
          pa.schema([("eval_id", pa.int64()), ("eval_vec", pa.list_(pa.float64()))]))
    em = d["embeddings"]
    write("embeddings.parquet", {"doc_id": [r[0] for r in em], "embedding": [r[1] for r in em]},
          pa.schema([("doc_id", pa.int64()), ("embedding", pa.list_(pa.float64()))]))
    return {"dir": out, "files": names}


# --------------------------------------------------------------------------
# Registry tables (the layout ``queries.load_table`` reads)
# --------------------------------------------------------------------------


def stage_tables(out: str, p: TablesParams, seed: int) -> dict:
    """The ten tables of the registry's ``sf_dir`` with the column
    names, types and value domains the queries and their DuckDB oracles
    expect; row counts scale with ``sf`` like the TPC-H tables do."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng(seed, "tables")
    sf = p.sf
    os.makedirs(out, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))

    def days(n: int, start: dt.datetime, span_days: int) -> pa.Array:
        base = np.datetime64(start, "us")
        d = rng.integers(0, span_days, n).astype("timedelta64[D]")
        return pa.array((base + d).astype("datetime64[us]"))

    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": ["NATION_%d" % i for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    adj = np.array(["small", "red", "large", "blue", "steel", "green"])
    noun = np.array(["ring", "widget", "bolt", "gear", "valve", "panel"])
    types = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"])
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                              noun[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, n_ord), 2),
        "o_orderdate": days(n_ord, dt.datetime(1992, 1, 1), 365 * 7),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    n_li = n_ord * 4
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": days(n_li, dt.datetime(1992, 1, 2), 365 * 10),
    })
    n_ev = int(1_000_000 * sf)
    ev_types = np.array(["click", "view", "purchase", "signup", "error"])
    base = np.datetime64("2024-01-01T00:00:00", "us")
    step = rng.integers(0, 400_000_000, n_ev).cumsum().astype("timedelta64[us]")
    write("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(base + step),
        "user_id": pa.array(rng.integers(0, max(100, n_ev // 100), n_ev), pa.int64()),
        "event_type": ev_types[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 20, n_ev), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)],
    })
    words = ["a", "the", "row", "key", "agg", "scan", "slow", "fast", "table", "value",
             "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "data",
             "column", "join", "small", "big", "customer", "query", "order", "group",
             "filter", "stream", "vector"]
    n_docs = int(50_000 * sf)
    texts = [" ".join(words[i] for i in rng.integers(0, len(words), int(rng.integers(8, 80))))
             for _ in range(n_docs)]
    lang_p = np.array([0.44, 0.14, 0.14, 0.14, 0.14])
    write("documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "de", "fr", "es", "zh"])[rng.choice(5, n_docs, p=lang_p)],
        "source": ["src%d" % (i % 20) for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n_vec = int(20_000 * sf)
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = (centers[labels] + rng.normal(scale=0.8, size=(n_vec, 64))) / 8.0
    write("embeddings", {
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return {"dir": out}


#: orders backlog (``orders`` backfill phase) and open-loop feed (live
#: phase): the same generator, smaller files for the live feed
BACKLOG = OrdersParams()
LIVE = OrdersParams(n_events=12_000, events_per_file=50)
FRONT_DOOR = FrontDoorParams()
TABLES = TablesParams()


def stage(workload: str, seed: int, out: str) -> dict:
    """Stage ``workload``'s inputs under ``out``; returns a manifest
    (also written to ``out/manifest.json``) with every parameter."""
    # A fresh directory: the replay source resumes offsets from files
    # already present, so leftovers would shift every offset.
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if workload == "orders":
        manifest = {
            "backlog": stage_orders(os.path.join(out, "backlog"), BACKLOG, seed),
            "live": stage_orders(os.path.join(out, "live"), LIVE, seed + 1_000_003),
            "params": {"backlog": dataclasses.asdict(BACKLOG), "live": dataclasses.asdict(LIVE)},
        }
    elif workload == "llm":
        manifest = {
            "front_door": stage_front_door(os.path.join(out, "front_door"), FRONT_DOOR, seed),
            "tables": stage_tables(os.path.join(out, "tables"), TABLES, seed),
            "params": {"front_door": dataclasses.asdict(FRONT_DOOR),
                       "tables": dataclasses.asdict(TABLES)},
        }
    else:
        raise ValueError(f"unknown workload {workload!r}")
    manifest = json.loads(json.dumps(manifest).replace(out, "."))
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("orders", "llm"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    stage(args.workload, args.seed, args.out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
