"""Spans around calls into the program's layers, with Spark job metrics.

Each span runs its call under its own Spark job group. When the span
ends, the group's jobs are looked up in the status tracker and their
stages' metrics are read from the application status store
(``statusStore().lastStageAttempt``), which works with the Spark UI
disabled. Spans stay in memory; :meth:`Tracer.dump` writes them out.

A :class:`Tracer` with ``enabled=False`` times calls and nothing else,
so the same workload code runs traced and untraced.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

SPARK_FIELDS = (
    "jobs", "stages", "shuffle_bytes", "executor_run_ms", "executor_cpu_ms",
    "peak_mem_bytes",
)


class Tracer:
    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled and sc is not None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._seq = 0
        self.request_id: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        """Time the body; when tracing, also record its Spark work. The
        yielded dict is the span record, so the body can attach
        attributes (e.g. a result count)."""
        rec = {"name": name, **attrs}
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["dur_s"] = time.perf_counter() - t0
            return
        self._seq += 1
        rec.update(
            id=self._seq,
            parent=self._stack[-1]["id"] if self._stack else None,
            request_id=self.request_id,
        )
        group = f"perfbench-span-{self._seq}"
        outer = self._stack[-1]["_group"] if self._stack else None
        rec["_group"] = group
        self._stack.append(rec)
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if outer is None:
                self.sc.setJobGroup(None, None)
            else:
                self.sc.setJobGroup(outer, "")
            rec.update(self._spark_metrics(group))
            self.spans.append(rec)

    def _spark_metrics(self, group: str) -> dict:
        out = dict.fromkeys(SPARK_FIELDS, 0)
        tracker = self.sc.statusTracker()
        job_ids = list(tracker.getJobIdsForGroup(group))
        if not job_ids:
            return out
        jsc = self.sc._jsc.sc()
        # stage metrics land through the listener bus after the action
        # returns; drain it so the status store holds them
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out["jobs"] = len(job_ids)
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # stage skipped (its shuffle output reused)
                    continue
                out["stages"] += 1
                out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                out["executor_run_ms"] += st.executorRunTime()
                out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                out["peak_mem_bytes"] = max(out["peak_mem_bytes"], st.peakExecutionMemory())
        return out

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the time its children cover
        (children of one span run serially here, so they never overlap)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["dur_s"]
        return {s["id"]: s["dur_s"] - child.get(s["id"], 0.0) for s in self.spans}

    def dump(self, path) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                rec = {k: v for k, v in s.items() if not k.startswith("_")}
                rec["self_s"] = selfs[s["id"]]
                f.write(json.dumps(rec) + "\n")
