"""Tracing and host probes for the benchmark, all from outside the program.

- :class:`Spans` keeps spans in memory and writes them out once, with each
  span's self time (its duration minus the part its children cover).
- :class:`Rest` reads Spark's UI REST API (``/jobs``, ``/stages``, ``/sql``)
  and sums it per job group; every timed op runs under its own job group.
- :func:`plan_flags` reads flags from an executed-plan string.
- :func:`peak_rss_mb` reads the peak resident set of this process and of the
  driver JVM from ``/proc``.
- :func:`cpu_s` reads the CPU time of a process tree from ``/proc``, and the
  part of it the JVM spent compiling.
"""

from __future__ import annotations

import json
import re
import statistics
import time
import urllib.request
from dataclasses import dataclass, field

import numpy as np


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` in [0, 100] (0.0 when empty)."""
    return float(np.percentile(values, q)) if values else 0.0


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
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


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Spans:
    """In-memory span store: workload -> op -> layer."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self._spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        if not self.enabled:
            return -1
        sid = len(self._spans)
        self._spans.append(Span(sid, parent, name, start, end, attrs))
        return sid

    def set_end(self, sid: int, end: float) -> None:
        if self.enabled:
            self._spans[sid].end = end

    def dump(self, path: str) -> None:
        children: dict[int, list[Span]] = {}
        for s in self._spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = []
        for s in self._spans:
            kids = [(c.start, c.end) for c in children.get(s.id, [])]
            dur = s.end - s.start
            out.append(
                {
                    "id": s.id,
                    "parent": s.parent,
                    "name": s.name,
                    "start": round(s.start, 6),
                    "end": round(s.end, 6),
                    "dur_s": round(dur, 6),
                    "self_s": round(dur - covered(kids, s.start, s.end), 6),
                    **({"attrs": s.attrs} if s.attrs else {}),
                }
            )
        with open(path, "w") as f:
            json.dump({"spans": out}, f)


def _ms_epoch(gmt: str) -> float:
    """Spark REST time ('2024-01-01T00:00:00.123GMT') -> epoch seconds."""
    import calendar

    base, _, ms = gmt.replace("GMT", "").partition(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + int(ms or 0) / 1000.0


class Rest:
    """Sums of Spark's UI REST API, per job group."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = int(sc.uiWebUrl.rsplit(":", 1)[1])
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, what: str):
        with urllib.request.urlopen(f"{self.base}/{what}", timeout=30) as r:
            return json.load(r)

    def jobs(self, groups: set[str]) -> list[dict]:
        return [j for j in self.get("jobs") if j.get("jobGroup") in groups]

    def settle(self, groups: set[str], timeout: float = 10.0) -> None:
        """Wait until the listener bus has delivered every job of ``groups``."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            if all(j["status"] != "RUNNING" and "completionTime" in j for j in self.jobs(groups)):
                return
            time.sleep(0.2)

    def job_intervals(self, groups: set[str]) -> dict[str, list[tuple[float, float]]]:
        out: dict[str, list[tuple[float, float]]] = {}
        for j in self.jobs(groups):
            if "submissionTime" in j and "completionTime" in j:
                out.setdefault(j["jobGroup"], []).append(
                    (_ms_epoch(j["submissionTime"]), _ms_epoch(j["completionTime"]))
                )
        return out

    def stage_sums(self, groups: set[str]) -> dict[str, float]:
        jobs = self.jobs(groups)
        stage_ids = {s for j in jobs for s in j.get("stageIds", [])}
        sums = dict.fromkeys(
            ("jobs", "tasks", "executor_cpu_s", "executor_run_s", "gc_s", "shuffle_write_bytes", "spill_bytes"),
            0.0,
        )
        sums["jobs"] = float(len(jobs))
        for st in self.get("stages?status=complete"):
            if st["stageId"] not in stage_ids:
                continue
            sums["tasks"] += st.get("numCompleteTasks", 0)
            sums["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            sums["executor_run_s"] += st.get("executorRunTime", 0) / 1e3
            sums["gc_s"] += st.get("jvmGcTime", 0) / 1e3
            sums["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            sums["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        return sums

    def plans(self, groups: set[str]) -> list[str]:
        """Final physical plans of the SQL executions run by ``groups``."""
        job_ids = {j["jobId"] for j in self.jobs(groups)}
        out = []
        for ex in self.get("sql?details=true&planDescription=true&length=100000"):
            ids = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", [])) | set(
                ex.get("runningJobIds", [])
            )
            if ids & job_ids:
                out.append(ex.get("planDescription", ""))
        return out


_PY_EVAL = re.compile(r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas|"
                      r"FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas|BatchEvalPythonUDTF|"
                      r"ArrowEvalPythonUDTF)\b")
_BARRIER = re.compile(r"\b(Scan ExistingRDD|ExistingRDD|LogicalRDD)\b")
# operators that whole-stage codegen compiles; one printed without the "*"
# marker of the formatted plan ran interpreted
_CODEGEN_OPS = ("Project", "Filter", "HashAggregate", "BroadcastHashJoin", "SortMergeJoin",
                "ShuffledHashJoin", "Expand", "Generate", "Sort", "LocalLimit", "Range")
_NODE = re.compile(r"^[\s:+\-|]*(\*\s+)?([A-Za-z]+)\b")


def plan_flags(plan: str) -> dict[str, int]:
    """Counts read from one formatted executed plan: its tree section, and
    under adaptive execution only the final plan."""
    tree = plan.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    fallbacks = 0
    for line in tree.splitlines():
        m = _NODE.match(line)
        if m and m.group(2) in _CODEGEN_OPS and not m.group(1):
            fallbacks += 1
    return {
        "python_eval_nodes": len(_PY_EVAL.findall(tree)),
        "checkpoint_barriers": len(_BARRIER.findall(tree)),
        "codegen_fallbacks": fallbacks,
    }


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    import os

    kb = _hwm_kb(os.getpid()) + (_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0


def _stat_fields(path: str) -> tuple[str, list[str]]:
    """(command name, fields after it) of a /proc stat file."""
    with open(path) as f:
        text = f.read()
    return text[text.index("(") + 1:text.rindex(")")], text[text.rindex(")") + 1:].split()


def _ticks(fields: list[str], children: bool) -> int:
    return sum(int(x) for x in fields[11:15 if children else 13])  # utime stime [cutime cstime]


def cpu_s(root_pid: int) -> tuple[float, float]:
    """CPU seconds (user + system) used so far by ``root_pid`` and every
    process below it, reaped children included; and the part of it spent by
    JVM JIT compiler threads. Time a CPU was taken by the hypervisor or by
    other processes is not counted. Compiler threads must not exit
    (``-XX:-UseDynamicNumberOfCompilerThreads``), or their time is lost."""
    import os

    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                children.setdefault(int(_stat_fields(f"/proc/{name}/stat")[1][1]), []).append(int(name))
            except (OSError, IndexError, ValueError):
                pass
    total = jit = 0
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        try:
            comm, f = _stat_fields(f"/proc/{pid}/stat")
            total += _ticks(f, True)
            if comm == "java":
                for tid in os.listdir(f"/proc/{pid}/task"):
                    tcomm, tf = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
                    if "CompilerThre" in tcomm:
                        jit += _ticks(tf, False)
        except OSError:
            continue
        todo += children.get(pid, [])
    hz = os.sysconf("SC_CLK_TCK")
    return total / hz, jit / hz
