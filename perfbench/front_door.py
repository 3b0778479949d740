"""The LLM-data front door: quality → exact-dup (streaming state) →
near-dup → DSIR → semantic decontamination → BPE, landed per batch.

The timed part drains a staged document backlog through
``streaming.jobs.front_door_stream``.  ``compose`` is the same gate
chain written as batch calls into the operator modules; over the union
of the batches it is the correctness reference, and per micro-batch it
is the traced replay.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from perfbench import common
from perfbench.trace import Tracer

#: front_door_stream arguments (the rest are its defaults)
MIN_TOKENS = 5
MIN_ALPHA_RATIO = 0.3
MIN_JACCARD = 0.5
MIN_LOGRATIO = 0.0
BPE_ROUNDS = 4
#: files landed before timing starts: the first micro-batch is cold
WARM_FILES = 1
#: files timed, one micro-batch each: a fixed count, so the state size
#: and every per-batch figure cover the same work on every run.  A warm
#: micro-batch takes about 10 s on a 4-core host and each more timed
#: file would add about 15 s to a run with its check, more than the run
#: budget allows; so the latency percentiles are this batch's wall time
TIMED_FILES = 1

GATES = ("quality", "exact_dup", "near_dup", "dsir", "semantic")


def artifacts(spark, d: str) -> dict:
    """Static artifacts, built once per run (set-up)."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        bpe_train,
        dsir_fit_weights,
    )

    read = lambda name: spark.read.parquet(os.path.join(d, name))  # noqa: E731
    return {
        "corpus": read("corpus.parquet").localCheckpoint(eager=True),
        "lexicon": bpe_train(read("word_freq.parquet"), rounds=BPE_ROUNDS, emit="lexicon")
        .localCheckpoint(eager=True),
        "weights": dsir_fit_weights(read("fit.parquet"), F.col("tgt"))
        .localCheckpoint(eager=True),
        "doc_embeddings": read("embeddings.parquet"),
        "evals": read("evals.parquet"),
    }


def start(spark, watch: str, art: dict, out: str):
    """The front-door query over a watched document directory."""
    from spark_streaming_kafka2elasticsearch_spark.sources.files import JsonDirSource
    from spark_streaming_kafka2elasticsearch_spark.streaming.jobs import front_door_stream

    shutil.rmtree(out, ignore_errors=True)
    return front_door_stream(
        spark,
        JsonDirSource(watch, as_kafka_envelope=True),
        art["corpus"], art["lexicon"], art["weights"], art["doc_embeddings"], art["evals"],
        os.path.join(out, "sink"), os.path.join(out, "chk"),
        min_tokens=MIN_TOKENS, min_alpha_ratio=MIN_ALPHA_RATIO,
        min_jaccard=MIN_JACCARD, min_logratio=MIN_LOGRATIO,
    )


def parse_docs(spark, paths: list[str]):
    """Bounded read of document files, parsed like the stream does."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka2elasticsearch_spark.sources.files import JsonDirSource

    frames = [JsonDirSource(p, as_kafka_envelope=True).load(spark) for p in paths]
    raw = frames[0]
    for f in frames[1:]:
        raw = raw.unionByName(f)
    return raw.select(
        F.from_json("value", "doc_id long, lang string, text string").alias("d")
    ).select("d.*")


def compose(spark, batches: list[list[str]], art: dict, tracer: Tracer, land_dir: str | None):
    """The gate chain as batch operator calls, one bounded frame per
    entry of ``batches``, with a materialisation boundary after every
    layer.  Returns (kept docs rows, token rows, per-gate in/out
    counts, wall time per batch)."""
    from pyspark.sql import functions as F

    from spark_streaming_kafka2elasticsearch_spark.operators.dedup import (
        delta_corpus_jaccard_pairs,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators.similarity import (
        semantic_contamination_flags,
    )
    from spark_streaming_kafka2elasticsearch_spark.operators.text import (
        bpe_encode_with_lexicon,
        document_fingerprint,
        dsir_score_with_weights,
        text_quality,
    )
    from spark_streaming_kafka2elasticsearch_spark.sources.writer import overwrite_partitions

    def cp(df):
        return df.localCheckpoint(eager=True)

    counts = {g: [0, 0] for g in GATES}

    def count(gate, before, after):
        # gate pass rates are traced-run metrics only: counting costs jobs
        if tracer.enabled:
            counts[gate][0] += before.count()
            counts[gate][1] += after.count()

    seen = None  # fingerprints of earlier batches (the first-seen state)
    docs_rows, token_rows, walls = [], [], []
    for batch_id, paths in enumerate(batches):
        t0 = time.perf_counter()
        with tracer.span("sources.files.load"):
            docs = cp(parse_docs(spark, paths))
        with tracer.span("operators.text.quality"):
            kept = cp(text_quality(docs).filter(
                (F.col("n_tokens") >= MIN_TOKENS) & (F.col("alpha_ratio") >= MIN_ALPHA_RATIO)
            ).select("doc_id", "lang", "text", "n_tokens"))
        count("quality", docs, kept)
        with tracer.span("operators.text.fingerprint"):
            fp = cp(document_fingerprint(kept))
        # first-seen across batches; a batch carries no repeated text
        fresh = fp if seen is None else fp.join(seen, "fingerprint", "left_anti")
        fresh = cp(fresh.dropDuplicates(["fingerprint"]))
        seen = cp(fp.select("fingerprint") if seen is None
                  else seen.unionByName(fp.select("fingerprint")))
        count("exact_dup", fp, fresh)
        fresh = fresh.drop("fingerprint")
        with tracer.span("operators.dedup.near_dup"):
            hits = delta_corpus_jaccard_pairs(
                fresh, art["corpus"], id_col="doc_id", block_cols=["lang"],
                min_jaccard=MIN_JACCARD, max_doc_freq=50,
            ).select(F.col("delta_id").alias("doc_id")).distinct()
            novel = cp(fresh.join(hits, "doc_id", "left_anti"))
        count("near_dup", fresh, novel)
        with tracer.span("operators.text.dsir"):
            scored = dsir_score_with_weights(novel, art["weights"], id_col="doc_id")
            relevant = cp(novel.join(
                scored.filter(F.col("dsir_logratio") >= MIN_LOGRATIO)
                .select("doc_id", "dsir_logratio"),
                "doc_id",
            ))
        count("dsir", novel, relevant)
        with tracer.span("operators.similarity.decon"):
            vecs = relevant.select("doc_id").join(art["doc_embeddings"], "doc_id").select(
                F.col("doc_id").alias("vec_id"), "embedding")
            clean = semantic_contamination_flags(vecs, art["evals"]).filter(
                ~F.col("is_contaminated")).select(F.col("vec_id").alias("doc_id"))
            survivors = cp(relevant.join(clean, "doc_id", "left_semi"))
        count("semantic", relevant, survivors)
        with tracer.span("operators.text.bpe_encode"):
            tokens = cp(bpe_encode_with_lexicon(survivors, art["lexicon"]))
        if land_dir is not None:
            with tracer.span("sources.writer.land"):
                overwrite_partitions(
                    survivors.select("doc_id", "lang", "text", "n_tokens", "dsir_logratio")
                    .withColumn("batch_id", F.lit(batch_id)),
                    os.path.join(land_dir, "docs"), ["batch_id"],
                )
                overwrite_partitions(
                    tokens.withColumn("batch_id", F.lit(batch_id)),
                    os.path.join(land_dir, "tokens"), ["batch_id"],
                )
        docs_rows += survivors.select("doc_id", "dsir_logratio").collect()
        token_rows += tokens.collect()
        walls.append(time.perf_counter() - t0)
    return docs_rows, token_rows, counts, walls


def check(got_docs: list[tuple], got_tokens: list[tuple],
          want_docs: list[tuple], want_tokens: list[tuple]) -> dict:
    """Kept docs (id, DSIR score) and their encodings must be equal as
    sets; every difference is a mismatch."""
    gd, wd = set(got_docs), set(want_docs)
    gt, wt = set(got_tokens), set(want_tokens)
    return {
        "mismatches": len(gd ^ wd) + len(gt ^ wt)
        + (len(got_docs) - len(gd)) + (len(got_tokens) - len(gt)),
        "kept_docs": len(wd),
    }


def _sink_rows(spark, sink: str) -> tuple[list[tuple], list[tuple]]:
    docs = spark.read.parquet(os.path.join(sink, "docs")).select("doc_id", "dsir_logratio")
    toks = spark.read.parquet(os.path.join(sink, "tokens")).select(
        "doc_id", "n_subwords", "subwords")
    return ([tuple(r) for r in docs.collect()],
            [(r[0], r[1], tuple(r[2])) for r in toks.collect()])


def ingest(spark, root: str, manifest: dict, tracer: Tracer, work: str) -> dict:
    """One front-door query; each staged file is one micro-batch.

    Set-up builds the static artifacts and lands the first
    ``WARM_FILES`` files.  Then each of the next ``TIMED_FILES`` files
    is moved into the watched directory and timed from its arrival to
    the end of its trigger.  Later files re-send documents of earlier
    ones, so the first-seen state carries across batches."""
    d = os.path.normpath(os.path.join(root, manifest["dir"]))
    files = [os.path.join(d, "docs", f["name"]) for f in manifest["files"]]
    docs = {os.path.join(d, "docs", f["name"]): f["docs"] for f in manifest["files"]}
    watch = os.path.join(work, "watch")
    os.makedirs(watch)
    out = os.path.join(work, "front_door")

    def land(path: str) -> float:
        t0 = time.perf_counter()
        os.rename(path, os.path.join(watch, os.path.basename(path)))
        q.processAllAvailable()
        return time.perf_counter() - t0

    t_warm = time.perf_counter()
    art = artifacts(spark, d)
    q = start(spark, watch, art, out)
    try:
        for f in files[:WARM_FILES]:
            land(f)
        warm_s = time.perf_counter() - t_warm
        timed = files[WARM_FILES:WARM_FILES + TIMED_FILES]
        walls = [land(f) for f in timed]
        n_docs = [docs[f] for f in timed]
        prog = [json.loads(x.json) for x in q.recentProgress]
        heap_mb = common.live_heap_mb(spark)
    finally:
        q.stop()
    landed = [[os.path.join(watch, os.path.basename(f))]
              for f in files[: WARM_FILES + len(walls)]]
    got_docs, got_tokens = _sink_rows(spark, os.path.join(out, "sink"))
    want_docs, want_tokens, _, _ = compose(spark, landed, art, Tracer(enabled=False), None)
    # every doc of a batch arrived with its file and lands when its
    # trigger ends
    fresh = [w for w, n in zip(walls, n_docs) for _ in range(n)]
    result = {
        "warm_s": warm_s,
        "attempted": WARM_FILES + len(walls),
        "docs_per_s": sum(n_docs) / sum(walls),
        "batch_s": common.median(walls),
        "heap_mb": heap_mb,
        "freshness": fresh,
        # the engine's figures for the timed micro-batches only
        "progress": [x for x in prog if x["numInputRows"]][-TIMED_FILES:],
        "layers": {},
        "check": check(
            got_docs, got_tokens, [tuple(r) for r in want_docs],
            [(r[0], r[1], tuple(r[2])) for r in want_tokens]),
    }
    if tracer.enabled:
        _, _, counts, replay = compose(spark, landed, art, tracer, os.path.join(work, "replay"))
        # overhead: the timed batches replayed traced against the stream
        result["traced_wall"] = sum(replay[WARM_FILES:])
        result["untraced_wall"] = sum(walls)
        result["replay_wall"] = sum(replay)
        for g in GATES:
            result["layers"][f"gate.{g}.kept"] = counts[g][1] / max(1, counts[g][0])
    return result
