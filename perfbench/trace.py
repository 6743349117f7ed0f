"""Span tracer for the traced benchmark run.

Spans (name, start, end, parent, run id) are held in memory and written
once, by :meth:`Tracer.write`, when the run ends. The benchmark opens a
span around each call it makes into a layer of the engine. At the end
of the run :meth:`Tracer.attach_spark` reads the Spark jobs, stages and
SQL executions that the JVM status store kept for the whole session
(the store is filled whether or not anyone traces, and works with the
UI disabled) and hangs each under the innermost span that was open when
it was submitted: jobs under benchmark spans, stages under their job.
A span's self time is its duration minus the part of it that its
children cover.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# the JVM stamps job and stage times in whole milliseconds
_CLOCK_SLACK_S = 0.002

# operator names as the formatted physical plan prints them, counted by
# their numbered detail headers ("(12) Exchange"); the Python boundary
# names are the ones nipper_spark.plans.inspect.python_eval_count uses
_EXCHANGE_RE = re.compile(r"^\(\d+\) Exchange\b", re.M)
_PYTHON_EVAL_RE = re.compile(
    r"^\(\d+\) (?:ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|"
    r"FlatMapCoGroupsInPandas)\b", re.M)


@dataclass
class Span:
    id: int
    name: str
    start: float  # wall-clock seconds (time.time), comparable with the JVM
    end: float
    parent: int | None
    run_id: str
    kind: str = "span"  # span | job | stage | sql
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """A disabled tracer records nothing; its ``span`` costs a branch.
    ``cost_s`` accumulates the time the tracer itself spends while the
    benchmark measures, so the run can report its own overhead."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.cost_s = 0.0
        self._stack: list[int] = []
        self._kids: dict[int, list[Span]] | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sp = self._add(name, time.time(), 0.0,
                       self._stack[-1] if self._stack else None, "span",
                       attrs)
        self._stack.append(sp.id)
        self.cost_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    @contextmanager
    def overhead(self):
        """Wrap work done only because the run is traced (probes, state
        listings) so that it counts into ``cost_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.cost_s += time.perf_counter() - t0

    def _add(self, name, start, end, parent, kind, attrs) -> Span:
        sp = Span(len(self.spans), name, start, end, parent, self.run_id,
                  kind, dict(attrs))
        self.spans.append(sp)
        self._kids = None
        return sp

    @staticmethod
    def _innermost(bench: list[Span], t: float) -> int | None:
        best = None
        for sp in bench:
            if sp.start - _CLOCK_SLACK_S <= t <= sp.end and \
                    (best is None or sp.start >= best.start):
                best = sp
        return None if best is None else best.id

    # ------------------------------------------------------------------
    def attach_spark(self, spark) -> None:
        """Hang every finished Spark job (with its stages) and SQL
        execution of the session under the span open at its submission
        time; records submitted outside every span get no parent."""
        bench = [sp for sp in self.spans if sp.kind == "span"]
        store = spark.sparkContext._jsc.sc().statusStore()
        jobs = []
        for j in _iterate(store.jobsList(None)):
            sub, end = _opt_s(j.submissionTime()), _opt_s(j.completionTime())
            if sub is None or end is None:
                continue
            desc = j.description()
            jobs.append((sub, end, j.jobId(),
                         desc.get() if desc.isDefined() else "",
                         list(_iterate(j.stageIds()))))
        for sub, end, job_id, desc, stage_ids in sorted(jobs):
            job = self._add("job", sub, end, self._innermost(bench, sub),
                            "job", {"job_id": job_id, "description": desc})
            for sid in stage_ids:
                st = store.lastStageAttempt(sid)
                s_sub, s_end = _opt_s(st.submissionTime()), _opt_s(
                    st.completionTime())
                if s_sub is None or s_end is None:
                    continue  # skipped: its shuffle output was reused
                self._add("stage", s_sub, s_end, job.id, "stage", {
                    "stage_id": sid,
                    "run_s": st.executorRunTime() / 1e3,
                    "cpu_s": st.executorCpuTime() / 1e9,
                    "shuffle_write_bytes": st.shuffleWriteBytes()})
        sql_store = spark._jsparkSession.sharedState().statusStore()
        for ex in _iterate(sql_store.executionsList()):
            end = _opt_s(ex.completionTime())
            if end is None:
                continue
            sub = ex.submissionTime() / 1e3
            plan = ex.physicalPlanDescription() or ""
            self._add("sql", sub, end, self._innermost(bench, sub), "sql", {
                "execution_id": ex.executionId(),
                "exchanges": len(_EXCHANGE_RE.findall(plan)),
                "python_evals": len(_PYTHON_EVAL_RE.findall(plan))})

    # ------------------------------------------------------------------
    def children(self, sp: Span) -> list[Span]:
        if self._kids is None:
            self._kids = {}
            for s in self.spans:
                if s.parent is not None:
                    self._kids.setdefault(s.parent, []).append(s)
        return self._kids.get(sp.id, [])

    def descendants(self, sp: Span, kind: str) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            for c in self.children(todo.pop()):
                if c.kind == kind:
                    out.append(c)
                todo.append(c)
        return out

    def self_time(self, sp: Span) -> float:
        """Duration not covered by children: for a benchmark span around
        an engine call, driver-side planning and Python; for a job, time
        with no stage running. SQL executions overlap their own jobs and
        do not count."""
        return sp.dur - covered_s(
            [(c.start, c.end) for c in self.children(sp) if c.kind != "sql"],
            sp.start, sp.end)

    def no_job_s(self, sp: Span) -> float:
        """Duration of ``sp`` during which no Spark job of it ran."""
        return sp.dur - covered_s(
            [(j.start, j.end) for j in self.descendants(sp, "job")],
            sp.start, sp.end)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id,
                       "spans": [asdict(s) | {"self_s": self.self_time(s)}
                                 for s in self.spans]}, f)


def _iterate(seq):
    """Iterate a Scala collection returned through py4j."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_s(opt) -> float | None:
    """scala Option[java.util.Date] → epoch seconds."""
    return opt.get().getTime() / 1e3 if opt.isDefined() else None
