"""Spans around calls into the program's layers, with Spark counters.

A span records (name, layer, start, end, parent, run id) and the range of
Spark job ids submitted while it was open. Counters for those jobs are read
from the driver's status store (``sc._jsc.sc().statusStore()``, populated
with the UI disabled) once, at the end of the run, so the timed calls pay
only two job-id reads each. Spans stay in memory until :meth:`Tracer.write`.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

#: The program's modules that a workload calls into, in report order.
LAYERS = (
    "sources", "quality", "sampling", "relational", "ml", "pipeline",
    "spandedup", "trainset", "dedup", "retrieval", "similarity",
)
LAYER_METRICS = (
    ("calls", "count"), ("wall_s", "s"), ("driver_s", "s"), ("jobs", "count"),
    ("tasks", "count"), ("executor_cpu_s", "s"),
    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
    ("rows_out", "rows"),
)


class Span:
    __slots__ = ("sid", "name", "layer", "parent", "start", "end",
                 "job_lo", "job_hi", "rows_out", "counters")

    def __init__(self, sid, name, layer, parent, start, job_lo):
        self.sid, self.name, self.layer, self.parent = sid, name, layer, parent
        self.start, self.end = start, None
        self.job_lo, self.job_hi = job_lo, None
        self.rows_out = 0
        self.counters: dict = {}


class _Null:
    """What a disabled tracer yields: accepts ``rows_out`` and drops it."""

    rows_out = 0


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def _next_job(self) -> int:
        nxt = self._dag.nextJobId()  # an int, or an AtomicInteger
        return int(nxt if isinstance(nxt, int) else nxt.get())

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield _Null()
            return
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, layer, parent, time.time(),
                  self._next_job())
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.job_hi = self._next_job()
            sp.end = time.time()

    # -- counters ---------------------------------------------------------

    def resolve(self, timeout_s: float = 30.0) -> None:
        """Fill each span's counters from the status store. Waits (bounded)
        for the listener bus to record every job the spans launched."""
        if not self.spans:
            return
        store = self.spark.sparkContext._jsc.sc().statusStore()
        last = max(sp.job_hi for sp in self.spans)
        deadline = time.time() + timeout_s
        jobs: dict[int, dict] = {}
        for jid in range(min(sp.job_lo for sp in self.spans), last):
            while True:
                info = _job_info(store, jid)
                if info is not None or time.time() > deadline:
                    break
                time.sleep(0.05)
            if info is not None:
                jobs[jid] = info
        for sp in self.spans:
            own = [jobs[j] for j in range(sp.job_lo, sp.job_hi) if j in jobs]
            stages = {s["id"]: s for j in own for s in j["stages"]}.values()
            intervals = [
                (max(s["start"], sp.start), min(s["end"], sp.end))
                for s in stages
            ]
            busy = _union_length([iv for iv in intervals if iv[1] > iv[0]])
            sp.counters = {
                "jobs": len(own),
                "jobs_missing": (sp.job_hi - sp.job_lo) - len(own),
                "tasks": sum(s["tasks"] for s in stages),
                "failed_tasks": sum(s["failed_tasks"] for s in stages),
                "executor_run_s": sum(s["run_ms"] for s in stages) / 1e3,
                "executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
                "shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
                "spill_bytes": sum(s["spill"] for s in stages),
                "stage_busy_s": busy,
            }

    def self_time(self, sp: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(c.start, c.end) for c in self.spans if c.parent == sp.sid]
        return (sp.end - sp.start) - _union_length(kids)

    def layer_metrics(self) -> dict[str, float]:
        out = {f"{lay}.{m}": 0.0 for lay in LAYERS for m, _ in LAYER_METRICS}
        for sp in self.spans:
            if sp.layer not in LAYERS:
                continue
            c, pre = sp.counters, sp.layer + "."
            wall = self.self_time(sp)
            out[pre + "calls"] += 1
            out[pre + "wall_s"] += wall
            out[pre + "driver_s"] += max(0.0, wall - c.get("stage_busy_s", 0))
            for key in ("jobs", "tasks", "executor_cpu_s",
                        "shuffle_write_bytes", "spill_bytes"):
                out[pre + key] += c.get(key, 0)
            out[pre + "rows_out"] += sp.rows_out
        return out

    def write(self, path: str, extra: dict) -> None:
        doc = {
            "run_id": self.run_id,
            **extra,
            "spans": [
                {
                    "id": sp.sid, "name": sp.name, "layer": sp.layer,
                    "parent": sp.parent, "start": sp.start, "end": sp.end,
                    "self_s": self.self_time(sp), "jobs": [sp.job_lo, sp.job_hi],
                    "rows_out": sp.rows_out, **sp.counters,
                }
                for sp in self.spans
            ],
        }
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


def _job_info(store, jid: int) -> dict | None:
    """Stage counters of one finished job, or None while the listener has
    not recorded its end yet."""
    try:
        job = store.job(jid)
    except Exception:  # noqa: BLE001 — NoSuchElementException over py4j
        return None
    if _opt_ms(job.completionTime()) is None:
        return None
    ids = job.stageIds()
    stages = []
    for i in range(ids.size()):
        try:
            st = store.lastStageAttempt(ids.apply(i))
        except Exception:  # noqa: BLE001 — stage skipped or evicted
            continue
        start, end = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
        if start is None or end is None:
            continue  # skipped stage: its output was reused
        stages.append({
            "id": int(ids.apply(i)), "start": start, "end": end,
            "tasks": st.numTasks(), "failed_tasks": st.numFailedTasks(),
            "run_ms": st.executorRunTime(), "cpu_ns": st.executorCpuTime(),
            "shuffle_write": st.shuffleWriteBytes(),
            "spill": st.memoryBytesSpilled() + st.diskBytesSpilled(),
        })
    return {"stages": stages}


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
