"""In-memory spans plus the JVM and Spark counters the benchmark reads.

Spans are opened by benchmark code around calls into the engine's layers
(``operators.build``, ``streaming.runtime.drain``, ...); the layer is the
span name without its last dotted part. Each span keeps start, end,
parent and the unit it served. Spark jobs are attached afterwards to the
innermost span open when Spark submitted them (one client, one unit at a
time, so submission time identifies the span).
"""

from __future__ import annotations

import contextlib
import os
import time


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, unit: str | None = None):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "unit": unit,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()


def layer_of(name: str) -> str:
    return name.rsplit(".", 1)[0]


def self_times(spans: list[dict], root: int) -> dict[str, float]:
    """Self time per layer under span ``root``: each span's duration minus
    what its children cover. The root's own share is ``unattributed``, so
    the values add up to the root's duration."""
    children: dict[int, list[int]] = {}
    inside = {root}
    for i in range(root + 1, len(spans)):
        parent = spans[i]["parent"]
        if parent in inside:
            inside.add(i)
            children.setdefault(parent, []).append(i)
    out: dict[str, float] = {}
    for i in sorted(inside):
        s = spans[i]
        covered = sum(spans[c]["end"] - spans[c]["start"] for c in children.get(i, []))
        key = "unattributed" if i == root else layer_of(s["name"])
        out[key] = out.get(key, 0.0) + (s["end"] - s["start"]) - covered
    return out


def innermost(spans: list[dict], lo: int, t_s: float) -> int | None:
    """Index of the innermost span from ``lo`` on that was open at ``t_s``."""
    best = None
    for i in range(lo, len(spans)):
        s = spans[i]
        if s["start"] <= t_s <= s["end"]:
            best = i  # later-opened spans nest inside earlier ones
    return best


class Jvm:
    """JIT and GC time of the driver JVM (local mode: executors too)."""

    def __init__(self, spark) -> None:
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def read(self) -> tuple[float, float]:
        jit = self._jit.getTotalCompilationTime() / 1000.0
        gc = sum(g.getCollectionTime() for g in self._gcs) / 1000.0
        return jit, gc


class SparkLedger:
    """Jobs and stages from Spark's status store, by submission time."""

    def __init__(self, spark) -> None:
        self._store = spark._jsc.sc().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._next_job = 0

    def jobs_since_cursor(self, stages: bool = True) -> list[dict]:
        """Jobs submitted since the last call, oldest first. Each carries its
        submission time (s since epoch) and, with ``stages``, per-stage sums."""
        out = []
        for j in self._conv.asJava(self._store.jobsList(None)):
            jid = j.jobId()
            if jid < self._next_job:
                continue
            rec = {"id": jid}
            if stages:
                sub = j.submissionTime()
                rec["t"] = sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0
                rec.update(self._stage_sums(list(self._conv.asJava(j.stageIds()))))
            out.append(rec)
        out.sort(key=lambda r: r["id"])
        if out:
            self._next_job = out[-1]["id"] + 1
        return out

    def _stage_sums(self, stage_ids: list[int]) -> dict:
        sums = dict.fromkeys(
            ("stages", "tasks", "run_s", "shuffle_w", "shuffle_r", "spill", "input"), 0
        )
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(int(sid))
            except Exception:  # pruned from the store
                continue
            if st.status().toString() != "COMPLETE":
                continue  # skipped: reused shuffle output, no tasks ran
            sums["stages"] += 1
            sums["tasks"] += st.numCompleteTasks()
            sums["run_s"] += st.executorRunTime() / 1000.0
            sums["shuffle_w"] += st.shuffleWriteBytes()
            sums["shuffle_r"] += st.shuffleReadBytes()
            sums["spill"] += st.diskBytesSpilled()
            sums["input"] += st.inputBytes()
        return sums


def phases_s(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s plan."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        if p.isDefined():
            total += p.get().durationMs()
    return total / 1000.0


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks of the whole machine since boot.

    ``stolen`` is the hypervisor's steal time: ticks in which a vCPU had
    work but the host ran another guest."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return user + nice + system + irq + softirq, steal


class Watch:
    """Wall time of an interval, and the same time net of steal.

    On a shared host other guests take vCPU time from this one (steal),
    and a pass slows in proportion: when the machine's vCPUs were served
    only a share ``busy / (busy + stolen)`` of the time they asked for,
    the pass would have taken that share of its wall time on a host of
    its own. ``read`` returns ``(wall, wall * share)``."""

    def __init__(self) -> None:
        self.t = time.perf_counter()
        self.busy, self.stolen = cpu_ticks()

    def read(self) -> tuple[float, float]:
        wall = time.perf_counter() - self.t
        busy, stolen = cpu_ticks()
        busy, stolen = busy - self.busy, stolen - self.stolen
        share = busy / (busy + stolen) if busy + stolen else 1.0
        return wall, wall * share


def tree_hwm_mb(root_pid: int) -> float:
    """Sum of VmHWM over ``root_pid`` and its live descendants, in MB."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, grew = {root_pid}, True
    while grew:
        new = {p for p, pp in parent.items() if pp in tree} - tree
        tree |= new
        grew = bool(new)
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0
