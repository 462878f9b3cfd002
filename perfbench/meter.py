"""Span meter for the traced run: wall-clock spans plus Spark counters.

Each span tags the jobs it triggers with its own ``sc.setJobGroup``; when
the span closes, ``statusTracker().getJobIdsForGroup`` names those jobs and
the status store (live with ``spark.ui.enabled=false``) gives each of their
stages' task count, executor run time, shuffle bytes, spill and failed
tasks.  Spans nest; a parent's counters cover only the jobs that ran
outside its children, so counters, like wall time, are self values.
Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

MB = 1 << 20


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    idx: int = 0
    counters: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> list[float]:
    """Self time of every span: its duration minus its children's."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.dur
    return [s.dur - c for s, c in zip(spans, child)]


class Meter:
    """Records spans for one run.  With ``spark=None`` only wall time is
    kept (used by the arithmetic tests)."""

    def __init__(self, spark=None, run_id: str = "run"):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._seq = itertools.count()

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.monotonic(), parent=parent, run_id=self.run_id, idx=idx)
        s.extra["group"] = f"{self.run_id}/{next(self._seq)}/{name}"
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(s.extra["group"], name)
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            if sc is not None:
                s.counters = self._counters(s.extra["group"])
                # jobs run after this span, inside the parent, go back to
                # the parent's group (so they count as the parent's self)
                if parent is not None:
                    sc.setJobGroup(self.spans[parent].extra["group"], self.spans[parent].name)
                else:
                    sc.setJobGroup("", "")

    def _counters(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # the status store is fed by the listener bus: drain it so the
        # closing span's last task metrics have landed
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        failed_jobs = 0
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            stage_ids.update(info.stageIds)
            failed_jobs += info.status == "FAILED"
        c = dict(jobs=len(job_ids), tasks=0, task_s=0.0, shuffle_read_mb=0.0,
                 shuffle_write_mb=0.0, spill_mb=0.0, failed_tasks=0,
                 failed_jobs=failed_jobs)
        store = jsc.statusStore()
        gw = sc._gateway
        empty = gw.new_array(gw.jvm.double, 0)
        no_status = gw.jvm.java.util.ArrayList()
        for sid in stage_ids:
            try:
                attempts = store.stageData(sid, False, no_status, False, empty)
            except Exception:  # evicted or never submitted (skipped)
                continue
            for i in range(attempts.size()):
                st = attempts.apply(i)
                c["tasks"] += st.numTasks() if str(st.status()) != "SKIPPED" else 0
                c["task_s"] += st.executorRunTime() / 1000.0
                c["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                c["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                c["spill_mb"] += st.diskBytesSpilled() / MB
                c["failed_tasks"] += st.numFailedTasks()
        return c

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "a") as fh:
            for s, self_s in zip(self.spans, st):
                rec = asdict(s)
                rec["self_s"] = self_s
                fh.write(json.dumps(rec) + "\n")
