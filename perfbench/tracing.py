"""Spans around the benchmark's calls into each engine layer.

A span is (id, name, parent, start, end, job ids, counts). Each span runs
its Spark jobs under its own job group, so the jobs a span launched come
back from ``statusTracker().getJobIdsForGroup``; stage counters (tasks,
failed tasks, shuffle bytes, spill, input bytes) come from Spark's status
store once the run is over. Spans stay in memory until ``write``.

With tracing off ``span`` yields ``None`` and touches Spark not at all.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

STAGE_FIELDS = ("tasks", "failed_tasks", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "input_bytes")


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "job_ids": [],
            "counts": dict(counts),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._sc.setJobGroup(f"perfbench-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                parent = self.spans[self._stack[-1]]
                self._sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)

    def harvest(self) -> None:
        """Fill each span's job ids and stage counters from the status
        store. Call once, after the last Spark action of the run."""
        if not self.enabled:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        for rec in self.spans:
            jobs = sorted(tracker.getJobIdsForGroup(f"perfbench-{rec['id']}"))
            rec["job_ids"] = jobs
            c = rec["counts"]
            c["jobs"] = len(jobs)
            c["stages"] = 0
            for f in STAGE_FIELDS:
                c[f] = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for stage_id in (info.stageIds if info else ()):
                    try:
                        sd = store.lastStageAttempt(stage_id)
                    except Exception:  # noqa: BLE001 - stage never submitted
                        continue
                    if str(sd.status()) == "SKIPPED":  # reused shuffle output
                        continue
                    c["stages"] += 1
                    c["tasks"] += sd.numTasks()
                    c["failed_tasks"] += sd.numFailedTasks()
                    c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    c["spill_bytes"] += (sd.memoryBytesSpilled()
                                         + sd.diskBytesSpilled())
                    c["input_bytes"] += sd.inputBytes()

    def total(self, rec: dict, key: str) -> float:
        """``key`` summed over ``rec`` and every span under it."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return rec["counts"].get(key, 0) + sum(self.total(k, key) for k in kids)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh, indent=1)
