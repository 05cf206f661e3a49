"""Per-layer tracing from outside the engine.

Spans time public layer calls (wall clock, nested). Each span tags the
Spark jobs it launches with its own job group, so after an operation
the Spark UI REST store can be read ONCE and every job's stage totals
(CPU time, input/output/shuffle/spill bytes, task counts) attributed to
the innermost span that launched it; parents roll up their children.
The store publishes asynchronously, so reads repeat until two agree
(the polling rule of ``scripts/measure_shuffle.py``).

Spans are appended to ``spans.jsonl`` as
``{"run": id, "id": n, "name": ..., "parent": n|null, "start": s, "end": s}``
(seconds since the run started) plus the attributed stage totals.

Only the traced run enables the Spark UI; the untraced run never
constructs a ``Tracer``.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request

STAGE_FIELDS = {
    "executorCpuTime": "cpu_ns",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleFetchWaitTime": "fetch_wait_ms",
    "memoryBytesSpilled": "mem_spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
}


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "group", "totals", "children", "extra")

    def __init__(self, sid, name, parent, start, group):
        self.id, self.name, self.parent, self.start = sid, name, parent, start
        self.end = None
        self.group = group
        self.totals: dict[str, float] = {}
        self.children: list[Span] = []
        self.extra: dict[str, float] = {}

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    def rolled(self, key: str) -> float:
        return self.totals.get(key, 0.0) + sum(c.rolled(key) for c in self.children)


class Tracer:
    def __init__(self, spark, run_id: str, spans_path: str, t0: float):
        self.sc = spark.sparkContext
        self.ui = self.sc.uiWebUrl
        if self.ui is None:
            raise RuntimeError("traced run needs the Spark UI (spark.ui.enabled=true)")
        self.app = self.sc.applicationId
        self.run_id, self.t0 = run_id, t0
        self._fh = open(spans_path, "a")
        self._stack: list[Span] = []
        self._pending: dict[str, Span] = {}
        self._next = 0
        self._seen_stages: set[tuple[int, int]] = set()

    # -- spans --------------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        group = f"pb-{self.run_id}-{self._next}"
        s = Span(self._next, name, parent.id if parent else None, time.perf_counter() - self.t0, group)
        if parent:
            parent.children.append(s)
        self._stack.append(s)
        self._pending[group] = s
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self.t0
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", self._stack[-1].group if self._stack else None
            )

    # -- REST ---------------------------------------------------------------
    def _get(self, what: str):
        url = f"{self.ui}/api/v1/applications/{self.app}/{what}"
        for attempt in range(5):
            try:
                with urllib.request.urlopen(url, timeout=30) as r:
                    return json.load(r)
            except OSError:
                if attempt == 4:
                    raise
                time.sleep(0.5)

    def _stable(self, what: str):
        prev = self._get(what)
        for _ in range(25):
            time.sleep(0.15)
            cur = self._get(what)
            if cur == prev:
                return cur
            prev = cur
        return prev

    def executor_gc_ms(self) -> float:
        return float(sum(e.get("totalGCTime", 0) for e in self._get("executors")))

    def stage_totals(self) -> dict[str, float]:
        """Totals over every completed stage so far (session metrics)."""
        out: dict[str, float] = {}
        for st in self._stable("stages?status=complete"):
            for src, dst in STAGE_FIELDS.items():
                out[dst] = out.get(dst, 0.0) + float(st.get(src, 0) or 0)
        return out

    def attribute(self, root: Span) -> None:
        """Attribute the finished jobs of ``root`` and its descendants,
        then log the span tree."""
        jobs = self._stable("jobs")
        stages = {
            (st["stageId"], st["attemptId"]): st
            for st in self._stable("stages?status=complete")
        }
        by_stage_id: dict[int, list[dict]] = {}
        for key, st in stages.items():
            by_stage_id.setdefault(key[0], []).append(st)
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            span = self._pending.get(job.get("jobGroup"))
            if span is None:
                continue
            span.totals["jobs"] = span.totals.get("jobs", 0) + 1
            for sid in job.get("stageIds", []):
                for st in by_stage_id.get(sid, []):
                    key = (sid, st["attemptId"])
                    if key in self._seen_stages:
                        continue  # skipped/reused stage counted once
                    self._seen_stages.add(key)
                    span.totals["stages"] = span.totals.get("stages", 0) + 1
                    for src, dst in STAGE_FIELDS.items():
                        span.totals[dst] = span.totals.get(dst, 0.0) + float(st.get(src, 0) or 0)
        self._log(root)

    def _log(self, s: Span) -> None:
        self._pending.pop(s.group, None)
        rec = {
            "run": self.run_id, "id": s.id, "name": s.name, "parent": s.parent,
            "start": round(s.start, 6), "end": round(s.end, 6),
            **{k: v for k, v in s.totals.items()}, **s.extra,
        }
        self._fh.write(json.dumps(rec) + "\n")
        for c in s.children:
            self._log(c)

    def close(self) -> None:
        self._fh.close()


def walk(span: Span):
    yield span
    for c in span.children:
        yield from walk(c)
