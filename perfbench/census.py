"""Per-layer census taken from outside the program.

Spans are timed around calls into the engine's public functions. Spark's
own counters are read per job group: `SparkContext.statusTracker()` gives
the job and stage ids of a group, and the application status store
(`sc._jsc.sc().statusStore()`, populated with the UI off) gives each
stage's task run time, shuffle bytes and spill, and each job's submit and
completion times. Nothing inside the engine package is changed.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; `enabled=False` makes every call a no-op
    apart from running the body, so untraced passes pay nothing."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups = 0
        self.pass_no = None

    @contextmanager
    def span(self, name: str, group: bool = False):
        """Record `name` around the body. `group=True` also runs the body in
        its own Spark job group and attaches that group's counters."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        gid = None
        if group:
            self._groups += 1
            gid = f"{self.run_id}:{self._groups}:{name}"
            sc.setJobGroup(gid, name)
        rec = {
            "name": name,
            "run_id": self.run_id,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_no,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if gid is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                rec.update(group_counters(self.spark, gid))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace `owner.attr` with a span-recording wrapper (traced runs
        only), to time a layer that is called from inside another."""
        fn = getattr(owner, attr)
        tracer = self

        def traced(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, traced)

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name: duration minus the part of the
        interval its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - c)
        return out


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def group_counters(spark, gid: str) -> dict:
    """Jobs, tasks, run time, shuffle and spill of one job group, plus the
    [submit, complete] wall intervals of its jobs (epoch seconds)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    no_status = gw.jvm.java.util.ArrayList()
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    out = {
        "jobs": 0, "tasks": 0, "failed_tasks": 0, "run_ms": 0,
        "shuffle_bytes": 0, "spill_bytes": 0, "intervals": [],
    }
    stage_ids: set[int] = set()
    for jid in tracker.getJobIdsForGroup(gid):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
        try:
            j = store.job(jid)
            a, b = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
            if a is not None and b is not None:
                out["intervals"].append((a / 1000.0, b / 1000.0))
        except Exception:
            pass
    for sid in stage_ids:
        try:
            seq = store.stageData(sid, False, no_status, False, no_quantiles)
        except Exception:
            continue
        for i in range(seq.size()):
            st = seq.apply(i)
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["run_ms"] += st.executorRunTime()
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def uncovered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Seconds of [start, end] not covered by any interval."""
    covered = 0.0
    cur_a = cur_b = None
    for a, b in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return max(0.0, (end - start) - covered)


def persisted_blocks(spark) -> tuple[int, int]:
    """(persisted RDD count, bytes held in memory and on disk)."""
    jsc = spark.sparkContext._jsc
    n = len(jsc.getPersistentRDDs())
    total = 0
    for info in jsc.sc().getRDDStorageInfo():
        total += info.memSize() + info.diskSize()
    return n, total


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Kernel high-water RSS of the driver JVM plus this Python process."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(parquet files, bytes of every file) under `path`; Hadoop's local
    `.crc` checksum files are not counted."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith("."):
                continue
            files += n.endswith(".parquet")
            size += os.path.getsize(os.path.join(root, n))
    return files, size
