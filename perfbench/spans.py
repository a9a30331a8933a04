"""Spans recorded from outside the engine, and executor-side numbers from
Spark's JSON event log.

The benchmark wraps public methods on the engine instances it creates.
An instance attribute shadows the class method, so the engine's own
internal calls (``self.table.append_delta`` inside ``apply_epoch``,
``self.applier.apply_epoch`` inside the streaming ``foreachBatch``) reach
the wrapper too. Every span sets the Spark job group of its thread to its
span id; ``SparkListenerJobStart.Properties["spark.jobGroup.id"]`` in the
event log then maps each job, and through its stages each task, back to
the span that ran it. A job with no span group is attributed to the
innermost span open at its submission time and counted as unattributed.

Spans live in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    span_id: str
    parent_id: str | None
    trace_id: str
    t0: float
    t1: float = 0.0
    thread: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory span recorder. Disabled, ``span`` yields ``None`` and
    ``wrap`` installs nothing, so untraced runs execute the engine
    unmodified."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: list[Span] = []
        self.trace_id = "setup"
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, group: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(GROUP_PROP, group)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        # a callback thread (foreachBatch) has no span of its own yet:
        # its parent is the span the main thread is blocked in
        parent = st[-1] if st else (
            self._main_stack[-1] if self._main_stack else None)
        if not st:
            # the thread's own group (e.g. the streaming query's run id)
            # is put back when its outermost span ends
            self._local.outer_group = (
                self.sc.getLocalProperty(GROUP_PROP) if self.sc else None)
        sp = Span(
            name, f"s{next(self._ids)}",
            parent.span_id if parent else None,
            parent.trace_id if parent else self.trace_id,
            time.time(), thread=threading.current_thread().name,
        )
        st.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(sp.span_id, name)
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            st.pop()
            self._set_group(
                st[-1].span_id if st else self._local.outer_group)
            with self._lock:
                self.spans.append(sp)

    def wrap(self, obj, method: str, name: str, before=None, after=None):
        """Replace ``obj.method`` by a spanned call. ``before(args,
        kwargs)`` returns a state handed to ``after(span, state,
        result)``; both run only when tracing is on."""
        if not self.enabled:
            return
        fn = getattr(obj, method)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name) as sp:
                state = before(args, kwargs) if before else None
                out = fn(*args, **kwargs)
                if after:
                    after(sp, state, out)
                return out

        setattr(obj, method, spanned)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.t0):
                f.write(json.dumps(asdict(sp), default=str) + "\n")


# ------------------------------------------------------------- event log
_KEEP = ('{"Event":"SparkListenerJobStart"', '{"Event":"SparkListenerJobEnd"',
         '{"Event":"SparkListenerTaskEnd"')


def read_event_log(path: str) -> tuple[dict, list[dict]]:
    """Jobs (id -> group, submit/end times, stage ids) and per-task
    metrics from an uncompressed, non-rolling Spark event log."""
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            if not line.startswith(_KEEP):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get(GROUP_PROP),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": list(ev.get("Stage IDs") or []),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            else:
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                inp = m.get("Input Metrics") or {}
                out = m.get("Output Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "shuffle_read": sr.get("Local Bytes Read", 0)
                    + sr.get("Remote Bytes Read", 0),
                    "spill": m.get("Memory Bytes Spilled", 0)
                    + m.get("Disk Bytes Spilled", 0),
                    "in_bytes": inp.get("Bytes Read", 0),
                    "in_rows": inp.get("Records Read", 0),
                    "out_bytes": out.get("Bytes Written", 0),
                    "out_rows": out.get("Records Written", 0),
                })
    return jobs, tasks


class Attribution:
    """Jobs and tasks mapped onto spans."""

    def __init__(self, spans: list[Span], jobs: dict, tasks: list[dict],
                 t_from: float, t_to: float):
        self.spans = spans
        self.by_id = {s.span_id: s for s in spans}
        self.children: dict[str, list[Span]] = {}
        for s in spans:
            if s.parent_id:
                self.children.setdefault(s.parent_id, []).append(s)
        self.jobs = {j: v for j, v in jobs.items()
                     if t_from <= v["submit"] <= t_to}
        stage_job: dict[int, int] = {}
        for jid, j in sorted(self.jobs.items()):
            for st in j["stages"]:
                stage_job.setdefault(st, jid)
        self.job_tasks: dict[int, list[dict]] = {j: [] for j in self.jobs}
        for t in tasks:
            jid = stage_job.get(t["stage"])
            if jid is not None:
                self.job_tasks[jid].append(t)
        self.job_span: dict[int, str | None] = {}
        self.unattributed_jobs = 0
        for jid, j in self.jobs.items():
            if j["group"] in self.by_id:
                self.job_span[jid] = j["group"]
            else:
                self.unattributed_jobs += 1
                self.job_span[jid] = self._innermost_at(j["submit"])

    def _innermost_at(self, t: float) -> str | None:
        best = None
        for s in self.spans:
            if s.t0 <= t <= s.t1 and (best is None or s.t0 >= best.t0):
                best = s
        return best.span_id if best else None

    def owner(self, span_id: str | None, roots: set[str]) -> Span | None:
        """Nearest span (itself or an ancestor) whose name is in roots."""
        while span_id is not None:
            s = self.by_id[span_id]
            if s.name in roots:
                return s
            span_id = s.parent_id
        return None

    def jobs_owned(self, roots: set[str], root_names: set[str]) -> dict:
        """span_id of an owning root -> its job ids, where the owner of a
        job is its nearest ancestor span named in ``roots`` and only
        owners named in ``root_names`` are kept."""
        out: dict[str, list[int]] = {}
        for jid, sid in self.job_span.items():
            o = self.owner(sid, roots)
            if o is not None and o.name in root_names:
                out.setdefault(o.span_id, []).append(jid)
        return out

    def tasks_of(self, job_ids) -> list[dict]:
        return [t for j in job_ids for t in self.job_tasks.get(j, [])]

    def job_time_in(self, span: Span, job_ids) -> float:
        """Wall of the span covered by the given jobs' run intervals."""
        iv = [(max(span.t0, self.jobs[j]["submit"]),
               min(span.t1, self.jobs[j]["end"] or span.t1)) for j in job_ids]
        return covered(iv)

    def self_time(self, span: Span) -> float:
        kids = self.children.get(span.span_id, [])
        return span.dur - covered(
            [(max(span.t0, k.t0), min(span.t1, k.t1)) for k in kids])


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
