"""Session, memory sampling and statistics shared by the workloads."""

from __future__ import annotations

import gc
import os
import statistics
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: everything a run writes lives here, inside the checkout
WORK = os.path.join(REPO, ".perfbench_work")
#: driver heap, committed and touched at start (-Xms, AlwaysPreTouch), so
#: the JVM's resident memory minus this heap is its native memory:
#: metaspace, compiled code, threads, collector tables, off-heap buffers
#: and the RocksDB state store.  The heap itself is counted by what the
#: program still reaches after a full collection (``live_heap_mb``),
#: not by how far the collector let it grow
DRIVER_MEMORY_MB = 2048
#: most full collections ``live_heap_mb`` makes
HEAP_COLLECTIONS = 6
#: one shuffle partition per core, as the repository's test session
#: sizes it: the engine default (32) makes every stateful micro-batch
#: start 32 Python state workers on 4 cores
SHUFFLE_PARTITIONS = 4


def prepare_env(tmp_dir: str) -> None:
    """Environment the JVM and the Python workers start with.  Must run
    before the first ``pyspark`` session is built."""
    os.makedirs(tmp_dir, exist_ok=True)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEMORY_MB}m "
        f"--conf spark.driver.extraJavaOptions='-Djava.io.tmpdir={tmp_dir} "
        f"-Xms{DRIVER_MEMORY_MB}m -XX:+AlwaysPreTouch -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false "
        "pyspark-shell"
    )
    # two glibc malloc arenas instead of up to eight per core: the JVM's
    # native peak then varies less with which threads happened to
    # allocate
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["SPARK_LOCAL_DIRS"] = tmp_dir
    os.environ["TMPDIR"] = tmp_dir
    # the Python workers import the package by name
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")


def build(cores: int):
    """The engine's own session factory, at ``local[cores]``."""
    from spark_streaming_kafka2elasticsearch_spark.session import build_session

    spark = build_session(
        master=f"local[{cores}]",
        app_name="perfbench",
        extra_conf={"spark.sql.shuffle.partitions": str(SHUFFLE_PARTITIONS)},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the JVM this process launched and wait for it: it exits when
    its stdin closes, and its Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile, ``q`` in [0, 100]."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return float(s[k])


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# --------------------------------------------------------------------------
# Peak memory of the JVM and every Python worker under it
# --------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _status(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/status") as fh:
            return fh.read()
    except OSError:
        return ""


def _jvm_native_kb(status: str) -> int:
    """The JVM's RSS less its pre-touched heap."""
    for line in status.splitlines():
        if line.startswith("VmRSS:"):
            return max(0, int(line.split()[1]) - DRIVER_MEMORY_MB * 1024)
    return 0


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def program_mem_mb(root: int) -> float:
    """Memory outside the heap of every JVM ``root`` started, plus the
    proportional set size of the Python workers under it (the forked
    workers share most of their pages with the daemon, and PSS splits
    shared pages among the processes sharing them).  Other processes the
    JVM spawns are short-lived helpers that share its address space
    until they exec, so they are not counted; nor is ``root`` itself
    (the benchmark, with its generator and checks)."""
    kids = _children()
    total = 0
    for jvm in kids.get(root, []):
        status = _status(jvm)
        if not status.startswith("Name:\tjava\n"):
            continue
        total += _jvm_native_kb(status)
        todo = list(kids.get(jvm, []))
        while todo:
            pid = todo.pop()
            if _status(pid).startswith("Name:\tpython"):
                total += _pss_kb(pid)
            todo.extend(kids.get(pid, []))
    return total / 1024.0


def live_heap_mb(spark) -> float:
    """Driver heap the program still reaches: heap in use right after a
    full collection.  Called outside the timed regions, after a fixed
    amount of work.  Python's collection first releases the JVM objects
    only Python frames held.  A JVM collection lets Spark's context
    cleaner drop the shuffle, broadcast and block state of unreachable
    plans, which a later collection frees; so collect until the heap in
    use stops falling."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = float("inf")
    for _ in range(HEAP_COLLECTIONS):
        jvm.java.lang.System.gc()
        now = mx.getHeapMemoryUsage().getUsed() / 2.0**20
        if now > used - 1.0:
            return min(used, now)
        used = now
        time.sleep(0.5)
    return used


class MemorySampler:
    """Samples ``program_mem_mb`` of this process every ``period``
    seconds on a daemon thread and keeps the peak."""

    def __init__(self, period: float = 0.5) -> None:
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, program_mem_mb(os.getpid()))
            self._stop.wait(self.period)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, program_mem_mb(os.getpid()))


# --------------------------------------------------------------------------
# Spark's own streaming progress (public StreamingQueryProgress)
# --------------------------------------------------------------------------


def progress_metrics(progress: list) -> dict[str, float]:
    """``streaming.*`` layer metrics from the progress of the batches
    that carried data: the batch count, and per batch the median of
    each duration, so they do not grow with the number of batches a
    run happens to make."""
    data = [p for p in progress if p["numInputRows"] > 0]
    if not data:
        return {}
    d = [p["durationMs"] for p in data]

    def per_batch(*keys: str) -> float:
        return median(sum(x.get(k, 0) for k in keys) for x in d) / 1000.0

    out = {
        "streaming.batches": float(len(data)),
        "streaming.rows_per_batch": median(p["numInputRows"] for p in data),
        "streaming.add_batch_s": per_batch("addBatch"),
        "streaming.commit_s": per_batch("walCommit", "commitOffsets"),
        "streaming.offsets_s": per_batch("latestOffset", "getBatch"),
        "streaming.planning_s": per_batch("queryPlanning"),
    }
    ops = [p["stateOperators"] for p in data if p["stateOperators"]]
    if ops:
        out["streaming.stateful.first_seen_s"] = median(
            sum(op.get("allUpdatesTimeMs", 0) + op.get("allRemovalsTimeMs", 0)
                + op.get("commitTimeMs", 0) for op in batch)
            for batch in ops
        ) / 1000.0
        out["streaming.stateful.state_rows"] = float(sum(op["numRowsTotal"] for op in ops[-1]))
        out["streaming.stateful.state_bytes"] = float(
            sum(op["memoryUsedBytes"] for op in ops[-1]))
    return out
