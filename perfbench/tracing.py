"""Spans and Spark job counts taken from outside the library.

A :class:`Tracer` keeps one span per call the benchmark makes into a
library layer (name, start, end, parent, op id) in memory and writes
them out when the run ends. Job and task counts come from a Spark job
group per op, read back through ``statusTracker`` after the op.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext
from time import perf_counter


class Tracer:
    """In-memory span recorder; ``enabled=False`` records nothing."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._next_op = 0

    def span(self, name: str):
        if not self.enabled:
            return nullcontext()
        return self._span(name)

    @contextmanager
    def _span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op,
            "start": perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, kind: str):
        """Root span plus Spark job group for one benchmark op.

        Yields the op id, which :func:`job_counts` takes as the group."""
        if not self.enabled:
            yield None
            return
        op_id = f"{kind}-{self._next_op}"
        self._next_op += 1
        self._op = op_id
        self.sc.setJobGroup(op_id, op_id)
        try:
            with self._span(f"op.{kind}"):
                yield op_id
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._op = None

    def self_times(self) -> dict[str, float]:
        """Seconds per span name not covered by that span's children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def job_counts(sc, group: str, timeout_s: float = 5.0) -> tuple[int, int]:
    """(jobs, completed tasks) of a job group from ``statusTracker``.

    The status store is fed asynchronously, so poll until every job of
    the group has ended and the counts stop changing."""
    st = sc.statusTracker()
    deadline = time.monotonic() + timeout_s
    last = None
    while True:
        ids = sorted(st.getJobIdsForGroup(group))
        infos = [st.getJobInfo(j) for j in ids]
        done = all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos)
        tasks = 0
        for info in infos:
            for sid in info.stageIds if info is not None else ():
                stage = st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks
        now = (len(ids), tasks)
        if (done and now == last) or time.monotonic() > deadline:
            return now
        last = now
        time.sleep(0.05)
