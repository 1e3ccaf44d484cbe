"""Spans and Spark job accounting recorded from outside the program.

A span brackets one call into a repository module.  Each span runs its
Spark jobs under its own job group, so after the run the status tracker
tells how many jobs, stages and tasks each span launched.  Spans are
kept in memory and written out once, when the run ends.

``NullTracer`` is the untraced mode: it sets no job group and keeps no
spans, so the end-to-end metrics are measured without tracing cost.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, op: str | None = None):
        yield None


class Tracer:
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.bookkeeping_s = 0.0  # time spent in the tracer itself

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setJobGroup("perfbench-untracked", "perfbench")
        else:
            self.sc.setJobGroup(f"perfbench-{span['id']}", span["name"])

    @contextmanager
    def span(self, name: str, op: str | None = None):
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "op": op if op is not None else (parent["op"] if parent else None),
            "parent": parent["id"] if parent else None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        self.bookkeeping_s += time.perf_counter() - t
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            t = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.bookkeeping_s += time.perf_counter() - t

    def count_jobs(self) -> None:
        """Attach jobs/stages/tasks launched under each span's own group
        (children's jobs are counted on the children)."""
        st = self.sc.statusTracker()
        for sp in self.spans:
            jobs = st.getJobIdsForGroup(f"perfbench-{sp['id']}")
            stages = tasks = 0
            for jid in jobs:
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None and si.numTasks > 0:
                        stages += 1
                        tasks += si.numTasks
            sp["jobs"], sp["stages"], sp["tasks"] = len(jobs), stages, tasks

    def totals(self, sp: dict) -> dict:
        """Duration, self time and counts of ``sp`` including its subtree."""
        kids = [c for c in self.spans if c["parent"] == sp["id"]]
        out = {"dur": sp["end"] - sp["start"], "jobs": sp["jobs"],
               "stages": sp["stages"], "tasks": sp["tasks"]}
        out["self"] = out["dur"] - sum(c["end"] - c["start"] for c in kids)
        for c in kids:
            ct = self.totals(c)
            for k in ("jobs", "stages", "tasks"):
                out[k] += ct[k]
        return out

    def named(self, name: str) -> list[dict]:
        return [self.totals(sp) for sp in self.spans if sp["name"] == name]

    def write(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            for sp in self.spans:
                rec = dict(sp, start=sp["start"] - t0, end=sp["end"] - t0)
                f.write(json.dumps(rec) + "\n")
