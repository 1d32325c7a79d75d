"""Span recorder for the benchmark's traced runs.

Spans are opened and closed from the benchmark's own wrappers around the
library's module-level functions (see ``workloads.py``); the library is not
edited. Each span keeps (run id, name, start, end, parent). Spark jobs and
stages are read from the session's status store after the traced run and
assigned to the innermost span open at their submission time, so jobs
launched from the streaming engine's callback thread are attributed the
same way as jobs launched from the main thread.

Spans stay in memory and are written to a JSONL file when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: "int | None"
    end: "float | None" = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: "list[Span]" = []
        self._stack: "list[Span]" = []

    # -- recording ---------------------------------------------------------

    def begin(self, name: str) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        span = Span(len(self.spans), name, time.time(), parent)
        self.spans.append(span)
        self._stack.append(span)
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(f"perfbench:{name}", name)
        return span

    def end(self, span: Span) -> None:
        """Close `span` and every span opened inside it that is still open."""
        if span not in self._stack:
            return  # already closed by an enclosing phase marker
        while self._stack:
            top = self._stack.pop()
            top.end = time.time()
            if top is span:
                break
        if self.spark is not None:
            if self._stack:
                name = self._stack[-1].name
                self.spark.sparkContext.setJobGroup(f"perfbench:{name}", name)
            else:
                self.spark.sparkContext.setJobGroup("perfbench", "untraced")

    def open_named(self, name: str) -> "Span | None":
        for span in reversed(self._stack):
            if span.name == name:
                return span
        return None

    @contextlib.contextmanager
    def span(self, name: str):
        span = self.begin(name)
        try:
            yield span
        finally:
            self.end(span)

    # -- analysis ----------------------------------------------------------

    def self_times(self) -> "dict[int, float]":
        """Span duration minus the union of its direct children's intervals."""
        out = {}
        for s in self.spans:
            kids = sorted(
                (c.start, c.end) for c in self.spans if c.parent == s.sid
            )
            covered, cur_a, cur_b = 0.0, None, None
            for a, b in kids:
                a, b = max(a, s.start), min(b, s.end)
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
            out[s.sid] = (s.end - s.start) - covered
        return out

    def innermost_at(self, t: float) -> "Span | None":
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    def attribute_spark(self) -> "dict[int, dict]":
        """Per span: jobs, tasks, executor CPU, shuffle and output bytes of
        the jobs/stages submitted while it was the innermost open span."""
        sc = self.spark.sparkContext
        store = self.spark._jsc.sc().statusStore()
        as_java = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava
        per = {s.sid: dict(jobs=0, tasks=0, cpu_ns=0, shuffle_b=0, out_b=0)
               for s in self.spans}
        stages = store.stageList(  # (statuses, details, summaries, quantiles, task statuses)
            None, False, False, sc._gateway.new_array(sc._jvm.double, 0),
            sc._jvm.java.util.ArrayList(),
        )
        for job in as_java(store.jobsList(None)):
            sub = job.submissionTime()
            if sub.isEmpty():
                continue
            span = self.innermost_at(sub.get().getTime() / 1000.0)
            if span is not None:
                per[span.sid]["jobs"] += 1
        for st in as_java(stages):
            sub = st.submissionTime()
            if sub.isEmpty():
                continue  # skipped stage: never ran
            span = self.innermost_at(sub.get().getTime() / 1000.0)
            if span is None:
                continue
            acc = per[span.sid]
            acc["tasks"] += st.numCompleteTasks()
            acc["cpu_ns"] += st.executorCpuTime()
            acc["shuffle_b"] += st.shuffleWriteBytes()
            acc["out_b"] += st.outputBytes()
        return per

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run_id": self.run_id, "span_id": s.sid, "name": s.name,
                    "start": s.start, "end": s.end, "parent": s.parent,
                    **s.attrs,
                }) + "\n")


def layer_totals(tracer: Tracer, spark_stats: "dict[int, dict]") -> "dict[str, dict]":
    """Aggregate spans by name: summed self time, call count, durations and
    the Spark counters attributed to them."""
    selfs = tracer.self_times()
    out: "dict[str, dict]" = {}
    for s in tracer.spans:
        agg = out.setdefault(s.name, dict(
            self_s=0.0, calls=0, durations=[], jobs=0, tasks=0,
            cpu_ns=0, shuffle_b=0, out_b=0,
        ))
        agg["self_s"] += selfs[s.sid]
        agg["calls"] += 1
        agg["durations"].append(s.end - s.start)
        for k, v in spark_stats.get(s.sid, {}).items():
            agg[k] += v
        for k, v in s.attrs.items():
            if isinstance(v, (int, float)):
                agg[k] = agg.get(k, 0) + v
    return out
