"""Run-level plumbing shared by every workload: session sizing, the
conf record, process-tree memory, host-noise record, latency statistics
and a clean JVM shutdown.
"""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from typing import NamedTuple

# Spark settings recorded beside every result, so a change to the
# program's session profile shows up as a conf diff between two runs.
CONF_KEYS = (
    "spark.master",
    "spark.driver.memory",
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.files.maxPartitionBytes",
)


def cores() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb() -> int:
    """A driver heap that fits the machine: a quarter of RAM, at least
    1 GiB and at most 2 GiB, which holds every workload's inputs with
    room to spare (local mode runs every task in this heap)."""
    return max(1024, min(2048, mem_total_mb() // 4 // 256 * 256))


def session_conf(work: str) -> dict[str, str]:
    """Benchmark-side sizing passed as ``extra_conf`` to ``get_spark``:
    heap and scratch locations only. Parallelism comes from
    ``SPARK_GRAFT_CPUS`` (set by the caller to :func:`cores`); every
    other knob stays as the program's profile sets it.

    The initial heap equals the maximum: with a growable heap the JVM's
    resident size followed the collector's run-to-run expansion choices
    (2.2-3.0 GB over three identical runs), with a fixed one it repeats
    within 1%. ``peak_rss_mb`` then moves with off-heap, native and
    Python memory, and the program's heap use shows in ``heap_live_mb``
    (see :func:`live_heap_mb`) and as GC time."""
    tmp = os.path.join(work, "jvm-tmp")
    os.makedirs(tmp, exist_ok=True)
    return {
        "spark.driver.memory": f"{driver_heap_mb()}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{driver_heap_mb()}m",
        "spark.ui.showConsoleProgress": "false",
    }


def conf_record(spark) -> dict[str, str]:
    out = {k: spark.conf.get(k, None) for k in CONF_KEYS}
    out["defaultParallelism"] = str(spark.sparkContext.defaultParallelism)
    return out


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — TimeoutExpired: force it
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---- process-tree memory -------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional resident set: pages shared between processes of the
    tree (a forked worker and its parent) are counted once overall."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and every descendant (the
    Spark JVM and its Python workers), sampled on a background thread."""

    def __init__(self, period_s: float = 0.2) -> None:
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        total = sum(_pss_kb(p) for p in tree_pids(os.getpid()))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=10)
            self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def live_heap_mb(spark) -> float:
    """JVM heap in use right after a full collection: what the program
    keeps alive (cached frames, broadcasts, state, plan caches). The heap
    is fixed in size, so the JVM's resident size mostly reads that
    setting; this reads what the program holds in it.

    Collects until two collections in a row leave the same heap, within
    1 MB: Spark's context cleaner frees the blocks of broadcasts and
    shuffles whose handles a collection found unreachable, so one
    collection can leave garbage that the next reclaims. The figure is
    each heap pool's usage as the collector left it
    (``getCollectionUsage``), not the heap's current usage, which also
    counts the allocation buffers other threads take right after."""
    jvm = spark.sparkContext._jvm
    pools = [
        p for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        if p.getType().name() == "HEAP"
    ]
    used = prev = -1.0
    for _ in range(8):
        jvm.java.lang.System.gc()
        used = sum(p.getCollectionUsage().getUsed() for p in pools) / 2**20
        if abs(used - prev) < 1.0:
            break
        prev = used
        time.sleep(0.3)
    return used


# ---- host noise ----------------------------------------------------------


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class NoiseRecord:
    """CPU-steal share and load average over the run, from /proc. Not a
    metric: it tells a run taken beside a noisy neighbour from a slow
    program."""

    def __init__(self) -> None:
        self._start = _cpu_times()
        self.load_start = os.getloadavg()

    def finish(self) -> dict[str, float]:
        end = _cpu_times()
        delta = [b - a for a, b in zip(self._start, end)]
        total = sum(delta[:8]) or 1  # user..steal; guest is inside user
        steal = delta[7] if len(delta) > 7 else 0
        load = os.getloadavg()
        return {
            "steal_frac": round(steal / total, 5),
            "load1_start": self.load_start[0],
            "load1_end": load[0],
            "load5_end": load[1],
        }


# ---- statistics ----------------------------------------------------------


def tail(latencies: list[float], q: float) -> tuple[float, int]:
    """(value, samples beyond) at quantile ``q`` (nearest rank)."""
    xs = sorted(latencies)
    idx = max(math.ceil(q * len(xs)) - 1, 0)
    return xs[idx], len(xs) - 1 - idx


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def process_start_epoch() -> float:
    """Wall-clock time this process started (kernel clock-tick resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def now() -> float:
    return time.perf_counter()


class OpResult(NamedTuple):
    """One timed operation: its name, latency and whether it failed."""

    name: str
    latency_s: float
    ok: bool = True
    error: str = ""


class Context:
    """What a workload gets: the session, its staged inputs (and a key
    naming them), the seeded RNG that orders its passes, the tracer,
    a per-run scratch dir and a cache dir that outlives the run."""

    def __init__(self, spark, data_dir: str, inputs_key: str, work: str, cache_dir: str,
                 rng, tracer, op_timeout_s: float) -> None:
        self.spark, self.data_dir, self.inputs_key = spark, data_dir, inputs_key
        self.work, self.cache_dir = work, cache_dir
        self.rng, self.tracer, self.op_timeout_s = rng, tracer, op_timeout_s
