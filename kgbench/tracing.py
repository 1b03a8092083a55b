"""Spans recorded around calls into the package, plus Spark counters per span.

Each span sets the Spark job group to its own name, so every job the
layer's call and its action submit can be attributed afterwards from the
application status store (jobs -> stages -> tasks). Spans are kept in memory
and written out when the run ends.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

IDLE_GROUP = "kgbench.untraced"


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobGroup(name, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(parent or IDLE_GROUP, parent or IDLE_GROUP)
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "run_id": self.run_id})

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_time(self, name: str) -> float:
        """Span time minus the part its child spans cover (children run
        sequentially inside their parent)."""
        child = sum(s["end"] - s["start"] for s in self.spans if s["parent"] == name)
        return self.duration(name) - child


def layer_counters(sc, groups: list[str]) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages and tasks run, shuffle write and spill
    bytes, task CPU and GC seconds, and task skew (max / median duration)."""
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    stage_ids: dict[str, set[int]] = {g: set() for g in groups}
    n_jobs = dict.fromkeys(groups, 0)
    for i in range(jobs.size()):
        job = jobs.apply(i)
        grp = job.jobGroup()
        if not grp.isDefined() or grp.get() not in stage_ids:
            continue
        n_jobs[grp.get()] += 1
        sids = job.stageIds()
        stage_ids[grp.get()].update(sids.apply(k) for k in range(sids.size()))
    out = {}
    for g in groups:
        c = dict.fromkeys(("stages", "tasks", "shuffle_write_bytes", "spill_bytes",
                           "task_cpu_s", "gc_s"), 0)
        durations: list[int] = []
        for sid in sorted(stage_ids[g]):
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            c["stages"] += 1
            c["tasks"] += st.numCompleteTasks()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            c["task_cpu_s"] += st.executorCpuTime() / 1e9
            c["gc_s"] += st.jvmGcTime() / 1e3
            tasks = store.taskList(sid, st.attemptId(), 1 << 30)
            for k in range(tasks.size()):
                d = tasks.apply(k).duration()
                if d.isDefined():
                    durations.append(d.get())
        med = statistics.median(durations) if durations else 0
        c["task_skew"] = max(durations) / med if med else 0.0
        c["jobs"] = n_jobs[g]
        out[g] = c
    return out
