"""What the benchmark observes from outside the library: process-tree
CPU, spans with one Spark job group each, and per-group stage counts
read from Spark's own status store.

Spans are kept in memory on the ``Tracer`` and written out once, when
the run ends.
"""

from __future__ import annotations

import os
import time
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from derive import Span, StageSample

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # exited between listdir and open
        return None
    # field 2 (comm) may contain spaces; everything after its ')' splits
    return raw[raw.rindex(")") + 2 :].split()


def _proc_table() -> tuple[dict[int, list[int]], dict[int, int]]:
    """(children by parent pid, cpu ticks by pid) for every process;
    ticks are utime + stime + cutime + cstime."""
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        f = _stat_fields(pid)
        if f is None:
            continue
        # after comm: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
        children.setdefault(int(f[1]), []).append(int(pid))
        ticks[int(pid)] = sum(int(x) for x in f[11:15])
    return children, ticks


def descendants(root: int | None = None) -> list[int]:
    children, _ = _proc_table()
    out, todo = [], list(children.get(os.getpid() if root is None else root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def process_tree_cpu() -> float:
    """CPU seconds of this process and every live descendant, each with
    its reaped children (cutime/cstime), so Python workers that exited
    inside the interval are still counted.  Spark's executorCpuTime
    leaves Python UDF time out; this does not."""
    _, ticks = _proc_table()
    pids = [os.getpid()] + descendants()
    return sum(ticks.get(p, 0) for p in pids) / _TICK


class Tracer:
    """Nested spans; while a span is open every Spark job this thread
    submits carries the span's job group ``<trace_id>/<span_id>/<name>``."""

    def __init__(self, sc, trace_id: str | None = None):
        self.sc = sc
        self.trace_id = trace_id or uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._open: list[Span] = []

    def group(self, span: Span) -> str:
        return f"{self.trace_id}/{span.span_id}/{span.name}"

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        s = Span(
            name=name,
            span_id=len(self.spans),
            parent=parent.span_id if parent else None,
            trace_id=self.trace_id,
            start=0.0,
        )
        self.spans.append(s)
        self._open.append(s)
        self.sc.setJobGroup(self.group(s), name)
        s.cpu_start = process_tree_cpu()
        s.start = time.monotonic()
        try:
            yield s
        finally:
            s.end = time.monotonic()
            s.cpu_end = process_tree_cpu()
            self._open.pop()
            if parent is not None:
                self.sc.setJobGroup(self.group(parent), parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def as_records(self) -> list[dict]:
        return [
            {
                "trace_id": s.trace_id,
                "span_id": s.span_id,
                "parent": s.parent,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "cpu_s": s.cpu,
                "rows_out": s.rows_out,
                "group": self.group(s),
            }
            for s in self.spans
        ]


def _scala_list(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def stages_by_group(sc, groups: set[str]) -> tuple[dict[str, list[StageSample]], dict[str, int]]:
    """(stage attempts, job count) of every job group in ``groups``,
    from the application status store (kept even with the UI off)."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    stage_ids: dict[str, set[int]] = {g: set() for g in groups}
    jobs = {g: 0 for g in groups}
    for job in _scala_list(store.jobsList(None)):
        g = job.jobGroup()
        if g.isDefined() and g.get() in stage_ids:
            stage_ids[g.get()].update(_scala_list(job.stageIds()))
            jobs[g.get()] += 1
    quant = sc._gateway.new_array(jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0
    no_quant = sc._gateway.new_array(jvm.double, 0)
    out: dict[str, list[StageSample]] = {}
    for g, ids in stage_ids.items():
        samples = []
        for sid in sorted(ids):
            try:
                attempts = _scala_list(
                    store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_quant)
                )
            except Py4JJavaError:  # stage evicted or never registered
                continue
            for a in attempts:
                if a.numCompleteTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                p50 = mx = 0.0
                summ = store.taskSummary(sid, a.attemptId(), quant)
                if summ.isDefined():
                    rt = summ.get().executorRunTime()
                    p50, mx = float(rt.apply(0)), float(rt.apply(1))
                samples.append(
                    StageSample(
                        stage_id=sid,
                        tasks=a.numCompleteTasks(),
                        shuffle_read_bytes=a.shuffleReadBytes(),
                        shuffle_write_bytes=a.shuffleWriteBytes(),
                        spill_bytes=a.memoryBytesSpilled() + a.diskBytesSpilled(),
                        run_time_ms=a.executorRunTime(),
                        task_p50_ms=p50,
                        task_max_ms=mx,
                    )
                )
        out[g] = samples
    return out, jobs
