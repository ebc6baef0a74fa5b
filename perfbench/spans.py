"""Spans around the benchmark's calls into package modules.

A span records its name, start, end and parent. While a span is the
innermost open one, the Spark job group is set to the span's id, so every
Spark job that the call launches carries it (AQE and broadcast threads
inherit the group). Before a root span opens, the tracer skips the jobs
run since the last root (untraced work); after it closes, it drains the
listener bus and reads each new job's stages from the status store:
executor run time, executor CPU time, tasks, shuffle-write and spill
bytes, and whether the stage reads input files (its RDD graph holds a
``FileScanRDD``). A stage is attributed to the first job that lists it,
so a stage reused by a later job is counted once.

Spans are kept in memory and written out by ``dump`` when the run ends.
With ``enabled`` false, ``span`` records nothing and sets no job group.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

STAGE_FIELDS = (
    "jobs", "stages", "tasks", "run_s", "cpu_s", "scan_run_s",
    "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    workload: str
    start: float
    end: float = 0.0
    # Spark work launched while this span was the innermost open one
    stats: dict = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0))

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.workload = ""
        self.spans: list[Span] = []
        # per root span: executor run time of all its new stages, and of
        # the stages whose job group is one of the root's spans
        self.root_totals: list[dict] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._spark = None
        self._last_job = -1
        self.harvest_s = 0.0  # time spent reading the status store

    def bind(self, spark) -> None:
        """Attach to the session; its status store starts empty."""
        self._spark = spark
        self._last_job = -1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._mark()
        s = Span(next(self._ids), name, parent.id if parent else None, self.workload, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            if parent is None:
                self._harvest(s)

    def _set_group(self, s: Span | None) -> None:
        if self._spark is None:
            return
        sc = self._spark.sparkContext
        if s is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(f"pb{s.id}", s.name)

    def _new_jobs(self) -> list[tuple[int, str | None, list[int]]]:
        """(job id, job group, stage ids) of every job since the last call,
        in id order, once the listener bus has delivered their events."""
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()
        to_list = sc._gateway.jvm.scala.jdk.javaapi.CollectionConverters.asJava
        jsc.listenerBus().waitUntilEmpty()
        jobs = []
        it = jsc.statusStore().jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            job_id = j.jobId()
            if job_id <= self._last_job:
                break  # the store lists jobs newest first
            g = j.jobGroup()
            jobs.append((job_id, g.get() if g.isDefined() else None, [int(x) for x in to_list(j.stageIds())]))
        jobs.sort()
        if jobs:
            self._last_job = jobs[-1][0]
        return jobs

    def _mark(self) -> None:
        """Skip jobs run while tracing was off, so a root sees only its own."""
        if self._spark is not None:
            self._new_jobs()

    def _harvest(self, root: Span) -> None:
        if self._spark is None:
            return
        t0 = time.perf_counter()
        sc = self._spark.sparkContext
        gw = sc._gateway
        to_list = gw.jvm.scala.jdk.javaapi.CollectionConverters.asJava
        store = sc._jsc.sc().statusStore()
        jobs = self._new_jobs()
        by_group = {f"pb{s.id}": s for s in self.spans if s.start >= root.start}
        seen: set[int] = set()
        total = attributed = 0.0
        empty, no_q = gw.jvm.java.util.ArrayList(), gw.new_array(gw.jvm.double, 0)
        for _, group, stage_ids in jobs:
            owner = by_group.get(group)
            if owner is not None:
                owner.stats["jobs"] += 1
            for sid in stage_ids:
                if sid in seen:
                    continue
                seen.add(sid)
                for sd in to_list(store.stageData(sid, False, empty, False, no_q)):
                    if sd.status().toString() not in ("COMPLETE", "FAILED"):
                        continue  # SKIPPED: its output was reused
                    run_s = sd.executorRunTime() / 1e3
                    total += run_s
                    if owner is None:
                        continue
                    attributed += run_s
                    st = owner.stats
                    st["stages"] += 1
                    st["tasks"] += sd.numTasks()
                    st["run_s"] += run_s
                    st["cpu_s"] += sd.executorCpuTime() / 1e9
                    st["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    st["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    if _reads_files(gw.jvm, store, sid):
                        st["scan_run_s"] += run_s
        self.root_totals.append(
            {"root": root.id, "name": root.name, "workload": root.workload,
             "stage_run_s": total, "attributed_run_s": attributed}
        )
        self.harvest_s += time.perf_counter() - t0

    # ------------------------------------------------------------ queries

    def children(self, root: Span) -> list[Span]:
        """``root`` and every span below it."""
        ids, out = {root.id}, [root]
        for s in self.spans:
            if s.parent in ids:
                ids.add(s.id)
                out.append(s)
        return out

    def named(self, name: str, workload: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.name == name and (workload is None or s.workload == workload)]

    def attribution_ok(self) -> bool:
        """Every root's per-span executor times sum to its status-store total."""
        return all(abs(r["stage_run_s"] - r["attributed_run_s"]) < 1e-6 for r in self.root_totals)

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it covered by direct child spans."""
        return span.duration - sum(c.duration for c in self.spans if c.parent == span.id)

    def dump(self, path: str) -> None:
        spans = [dict(asdict(s), self_s=self.self_time(s)) for s in self.spans]
        with open(path, "w") as fh:
            json.dump({"spans": spans, "roots": self.root_totals}, fh)


def _reads_files(jvm, store, stage_id: int) -> bool:
    graph = store.operationGraphForStage(stage_id)
    return "FileScanRDD" in jvm.org.apache.spark.ui.scope.RDDOperationGraph.makeDotFile(graph)
