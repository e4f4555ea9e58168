"""Run hygiene and measurement helpers shared by every workload.

Nothing here imports ``datamunging_spark`` or pyspark at module load, so
the generators and references stay usable (and testable) without a JVM.
"""

from __future__ import annotations

import gc
import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import sys
import time
import uuid

#: Checkout root: the directory holding ``perfbench/``.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Everything the benchmark writes lives under this (git-ignored) directory.
WORK = os.path.join(ROOT, ".perfbench")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class BenchError(RuntimeError):
    """The benchmark cannot run here (missing program, bad arguments)."""


def import_program():
    """Import ``datamunging_spark`` from this checkout and nowhere else: a
    copy installed elsewhere would benchmark the wrong code."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import datamunging_spark
    except ImportError as exc:
        raise BenchError(f"datamunging_spark is not importable: {exc}") from exc
    where = os.path.dirname(os.path.abspath(datamunging_spark.__file__))
    if os.path.dirname(where) != ROOT:
        raise BenchError(f"datamunging_spark found at {where}, not in {ROOT}")
    return datamunging_spark


# ---------------------------------------------------------------------------
# Run directory
# ---------------------------------------------------------------------------


class RunDir:
    """A fresh per-run output directory, removed on close. Spark's local
    dirs, warehouse, checkpoints and the process temp dir all point here."""

    def __init__(self, workload: str, seed: int):
        self.run_id = f"{workload}-{seed}-{uuid.uuid4().hex[:12]}"
        self.path = os.path.join(WORK, "runs", self.run_id)
        os.makedirs(os.path.join(self.path, "tmp"))
        self.tmp = os.path.join(self.path, "tmp")

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def pin_env() -> int:
    """Pin the session factory's environment. Must run before the program
    is imported: ``datamunging_spark.session`` reads it at import time.
    One executor thread and one shuffle partition per core (the factory
    otherwise defaults to ``local[32]``), the factory's default driver
    memory, and worker processes that run this interpreter and import the program from this
    checkout."""
    cpus = nproc()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    return cpus


def use_run_tmp(run: RunDir) -> None:
    """Temp files of this process and its workers go inside the run."""
    import tempfile

    os.environ["TMPDIR"] = run.tmp
    tempfile.tempdir = run.tmp


def spark_conf(run: RunDir) -> dict[str, str]:
    """Session overrides: every Spark artifact inside the run. The JVM
    keeps the program's own defaults (heap, JIT)."""
    return {
        "spark.local.dir": run.sub("spark-local"),
        "spark.sql.warehouse.dir": run.sub("warehouse"),
        # -XX:-UsePerfData: HotSpot would write hsperfdata under /tmp.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run.tmp}"
        f" -Dderby.system.home={run.tmp} -XX:-UsePerfData",
        "spark.sql.streaming.checkpointLocation": run.sub("checkpoints"),
    }


# ---------------------------------------------------------------------------
# /proc readings
# ---------------------------------------------------------------------------


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    vals = [int(v) for v in fields]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), steal


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[0] - start[0]
    return (end[1] - start[1]) / total if total > 0 else 0.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """High-water resident set (VmHWM) of one process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise BenchError(f"no VmHWM for pid {pid}")


def host_probe_ms() -> float:
    """Best of five timings of a fixed pure-Python loop: how fast this
    host ran single-threaded code at the end of the run. Shared hosts
    drift by tens of percent over minutes; this shows when they did."""
    best = float("inf")
    for _ in range(5):
        t = time.perf_counter()
        acc = 0
        for j in range(200_000):
            acc += j * j
        best = min(best, time.perf_counter() - t)
    return best * 1e3


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total


# ---------------------------------------------------------------------------
# Statistics
# ---------------------------------------------------------------------------


def tail_percentile(n: int) -> int | None:
    """Highest of p99/p95/p90/p75/p50 with at least ten samples beyond it,
    or None when there are fewer than 20 samples."""
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100.0 >= 10:
            return p
    return None


def timing_ms(values: list[float]) -> dict:
    """Median and tail of durations in seconds, in ms. Without a percentile
    that has ten samples beyond it, the tail is the maximum, labelled so."""
    p = tail_percentile(len(values))
    tail = percentile(values, p) if p else max(values)
    return {
        "p50_ms": statistics.median(values) * 1e3,
        "tail_ms": tail * 1e3,
        "tail": f"p{p}" if p else "max",
        "n": len(values),
    }


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (no interpolation: a reported tail is a
    latency that was actually observed)."""
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def environment(spark) -> dict:
    jvm = spark._jvm
    return {
        "nproc": nproc(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def old_gen_peak_mb(spark) -> float:
    """Peak occupancy of the JVM's old generation, in MB."""
    pools = spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return sum(
        pools.get(i).getPeakUsage().getUsed()
        for i in range(pools.size())
        if "Old Gen" in pools.get(i).getName()
    ) / 2**20


def heap_live_mb(spark, rounds: int = 12) -> float:
    """JVM heap in use after full collections, in MB: what the engine
    retains (cached blocks, broadcasts, job and stage records). Unlike the
    resident set or a peak occupancy, it does not depend on when the
    collector last ran. Python objects that died in reference cycles still
    pin their JVM peers, so Python collects first; Spark's cleaner frees
    blocks of unreachable RDDs and broadcasts asynchronously after a
    collection finds them, so the JVM collects until the figure stops
    falling."""
    gc.collect()
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    best, flat = float("inf"), 0
    for _ in range(rounds):
        jvm.System.gc()
        used = bean.getHeapMemoryUsage().getUsed() / 2**20
        flat = flat + 1 if used > best - 1.0 else 0
        best = min(best, used)
        if flat == 2:  # two collections in a row freed nothing more
            break
        time.sleep(0.5)
    return best


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for tid in tasks:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(k) for k in f.read().split()]
            except (FileNotFoundError, ProcessLookupError):
                continue
            out += kids
            todo += kids
    return out


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, then end the driver JVM and wait for it and for every
    process it started (the Python worker daemons) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    pid = jvm_pid(spark)
    kids = _descendants(pid)
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits at end of its stdin
    proc.wait(timeout=timeout_s)
    deadline = time.time() + timeout_s
    for k in kids:
        while _alive(k) and time.time() < deadline:
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie awaiting its reaper has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return False


def dump_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, default=str)


def now() -> float:
    return time.perf_counter()
