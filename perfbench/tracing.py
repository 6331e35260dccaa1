"""Spans, Spark status-store counters and /proc sampling for the benchmark.

Spans are recorded around the benchmark's own calls into each engine
layer (the engine itself carries no tracing). Each span tags the Spark
jobs it triggers with its own job group, so the per-stage counters the
status store keeps (input, output and shuffle records and bytes, spill,
task times) attribute to the span that caused them.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc: the driver JVM and its Python workers
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (fields := _stat_fields(int(name))) is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))  # ppid
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and every descendant (the JVM forks the Python worker
    daemon, which forks the workers)."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2:].split()


def tree_pss_mb(root: int) -> float:
    """Summed proportional set size of the tree: resident memory with
    each page shared between processes (the forked Python workers share
    the daemon's pages) split among them, so it is counted once."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total_kb += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
        except (OSError, StopIteration):
            continue  # exited between listing and reading
    return total_kb / 1024


def tree_cpu_s(root: int) -> float:
    """User + system CPU of the tree, including reaped children (a
    Python worker that exits hands its time to the daemon)."""
    total = 0
    for pid in process_tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _TICK


class RssSampler:
    """Peak summed resident memory (PSS) of a process tree, sampled from
    a background thread while the ``with`` block runs."""

    def __init__(self, root: int, period_s: float = 0.5):
        self.root, self.period_s = root, period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            if self._stop.wait(self.period_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float                # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def job_group(self) -> str:
        return f"{self.run_id}-{self.span_id}"

    def as_dict(self) -> dict:
        return {
            "span_id": self.span_id, "name": self.name, "parent": self.parent,
            "run_id": self.run_id, "start": self.start, "end": self.end,
            "attrs": self.attrs,
        }


@dataclass
class StageSums:
    input_mb: float = 0.0
    input_records: int = 0
    output_records: int = 0
    shuffle_write_mb: float = 0.0
    shuffle_write_records: int = 0
    spill_mb: float = 0.0
    task_skew: float = 0.0      # max/median task time, longest shuffle-reading stage


class Tracer:
    """Records spans in memory; each span runs its Spark jobs under its
    own job group so the status store's stage counters can be summed per
    span afterwards (:meth:`stage_sums`)."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        sp = Span(
            span_id=len(self.spans), name=name,
            parent=self._stack[-1].span_id if self._stack else None,
            run_id=self.run_id, start=time.time(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(sp.job_group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    # -- status store ------------------------------------------------------
    def _conv(self, seq) -> list:
        jvm = self.sc._gateway.jvm
        return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))

    def _store(self):
        return self.sc._jsc.sc().statusStore()

    def jobs(self) -> list[dict]:
        """Every job of this run: group, stage ids, [start, end] epoch s."""
        jvm = self.sc._gateway.jvm
        out = []
        for j in self._conv(self._store().jobsList(jvm.java.util.ArrayList())):
            g = j.jobGroup()
            group = g.get() if g.isDefined() else None
            if group is None or not group.startswith(self.run_id + "-"):
                continue
            sub, done = j.submissionTime(), j.completionTime()
            out.append({
                "group": group,
                "stages": [int(s) for s in self._conv(j.stageIds())],
                "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000 if done.isDefined() else None,
            })
        return out

    def stage_sums(self, groups: set[str]) -> StageSums:
        """Counters of every stage run by jobs of ``groups``."""
        gw = self.sc._gateway
        jvm = gw.jvm
        wanted = {s for j in self.jobs() if j["group"] in groups for s in j["stages"]}
        stages = self._conv(self._store().stageList(
            jvm.java.util.ArrayList(), False, False,
            gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        ))
        out = StageSums()
        longest = None
        for st in stages:
            if st.stageId() not in wanted:
                continue
            out.input_mb += st.inputBytes() / 2**20
            out.input_records += st.inputRecords()
            out.output_records += st.outputRecords()
            out.shuffle_write_mb += st.shuffleWriteBytes() / 2**20
            out.shuffle_write_records += st.shuffleWriteRecords()
            out.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
            if st.shuffleReadBytes() > 0 and (
                longest is None or st.executorRunTime() > longest.executorRunTime()
            ):
                longest = st
        if longest is not None:
            tasks = self._conv(self._store().taskList(
                longest.stageId(), longest.attemptId(), 1 << 30
            ))
            times = sorted(t.duration().get() for t in tasks if t.duration().isDefined())
            if times and times[len(times) // 2] > 0:
                out.task_skew = times[-1] / times[len(times) // 2]
        return out
