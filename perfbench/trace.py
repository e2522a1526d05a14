"""Spans, Spark event-log attribution, and host measurements.

The benchmark records spans only around its own calls into the
engine's layers. In a traced run each operation also sets the Spark
job group to its operation id, so the event log can charge jobs,
stages and tasks to it. Jobs that carry no group (for example jobs a
layer submits from a worker thread) are charged to the operation whose
span encloses their submission time, and counted as such; jobs outside
every operation are counted as unattributed.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext

# ---- host ---------------------------------------------------------------


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_times() -> tuple[int, int]:
    """(user..steal total, steal) jiffies from /proc/stat. guest and
    guest_nice are already counted inside user and nice, so they are
    left out of the total."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return sum(fields), fields[7]


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[0] - start[0]
    return 100.0 * (end[1] - start[1]) / total if total > 0 else 0.0


class RssSampler:
    """Peak resident set of this process and all its descendants (the
    driver JVM and the Python workers), sampled every ``period`` s.
    A fork of the JVM (Hadoop's shell helpers, between fork and exec)
    shares its parent's pages and is not counted a second time."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(self.period):
                return


_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, rss bytes) of ``pid``, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    rest = stat[stat.rfind(")") + 2 :].split()
    return int(rest[1]), int(rest[21]) * _PAGE


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _proc_table() -> dict[int, int]:
    """{pid: ppid} for every readable process."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st[0]
    return out


def descendants(table: dict | None = None) -> list[int]:
    """Pids of every live process below this one."""
    table = _proc_table() if table is None else table
    kids: dict[int, list[int]] = {}
    for pid, ppid in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree_rss_bytes() -> int:
    table = _proc_table()
    total = 0
    for pid in [os.getpid(), *descendants(table)]:
        # exe before stat: a fork that execs in between then reports
        # its new, small resident set rather than its parent's
        exe = _exe(pid)
        st = _stat(pid)
        if st is None or ("java" in exe and exe == _exe(st[0])):
            continue  # gone, or a JVM fork that has not exec'd yet
        total += st[1]
    return total


def alive(pids: list[int]) -> list[int]:
    """The pids in ``pids`` that still exist and are not zombies."""
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if stat[stat.rfind(")") + 2] != "Z":
            out.append(pid)
    return out


# ---- spans ------------------------------------------------------------


class Tracer:
    """In-memory span recorder. Disabled tracers hand out no-op
    contexts, so the untraced path pays one attribute check per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._sc = None

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "op": self._op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    @contextmanager
    def op(self, op_id: str, kind: str):
        """One operation of the closed loop: the root span, and the
        Spark job group for every job it submits from this thread."""
        if not self.enabled:
            yield
            return
        self._op = op_id
        self._sc.setJobGroup(op_id, kind)
        start = time.time()
        try:
            with self._span(f"op.{kind}"):
                yield
        finally:
            self.ops.append({"op": op_id, "kind": kind, "start": start,
                             "end": time.time()})
            self._sc.setJobGroup("", "")
            self._op = None

    def self_times(self) -> list[float]:
        """Per span: duration minus the union its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(i, [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out.append(s["end"] - s["start"] - covered)
        return out

    def per_op(self, name: str) -> dict[str, float]:
        """{op id: summed duration of spans called ``name``}."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["name"] == name and s["op"] is not None:
                out[s["op"]] = out.get(s["op"], 0.0) + s["end"] - s["start"]
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            json.dump(
                [dict(s, self_s=t) for s, t in zip(self.spans, selfs)], fh
            )

    def self_summary(self) -> dict[str, float]:
        """Median self time per span name, over operations."""
        acc: dict[str, list[float]] = {}
        for s, t in zip(self.spans, self.self_times()):
            acc.setdefault(s["name"], []).append(t)
        return {k: statistics.median(v) for k, v in sorted(acc.items())}


# ---- Spark event log ------------------------------------------------------

# SQL metrics the Python-evaluating operators report per task
_PY_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_SQL_EVENT = "org.apache.spark.sql.execution.ui.SparkListener"
_MS_METRICS = {"python.boot_s", "python.init_s", "python.run_s"}

SPARK_COUNTERS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.scheduler_delay_s",
    "spark.executor_cpu_s",
    "spark.executor_run_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.gc_s",
    "spark.input_bytes",
    "spark.files_read",
    "python.boot_s",
    "python.init_s",
    "python.run_s",
    "python.bytes_sent",
    "python.bytes_received",
)


def attribute_event_log(path: str, ops: list[dict]) -> tuple[dict, dict]:
    """Charge the jobs in one event-log file to operations.

    Returns ({op id: {counter: value}}, {"grouped": n, "by_time": n,
    "unattributed": n}) where the second map counts jobs by how they
    were attributed."""
    known = {o["op"] for o in ops}
    by_op = {o["op"]: dict.fromkeys(SPARK_COUNTERS, 0.0) for o in ops}
    stage_op: dict[int, str] = {}
    # scans count their files on the driver: those updates arrive per
    # SQL execution, which is charged by its start time
    exec_op: dict[int, str | None] = {}
    files_accs: set[int] = set()
    how = {"grouped": 0, "by_time": 0, "unattributed": 0}

    def by_time(ms: int) -> str | None:
        t = ms / 1000.0
        for o in ops:
            if o["start"] <= t <= o["end"]:
                return o["op"]
        return None

    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if group in known:
                    op = group
                    how["grouped"] += 1
                else:
                    op = by_time(e["Submission Time"])
                    how["by_time" if op else "unattributed"] += 1
                if op is None:
                    continue
                by_op[op]["spark.jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_op[sid] = op
            elif kind in (_SQL_EVENT + "SQLExecutionStart",
                          _SQL_EVENT + "SQLAdaptiveExecutionUpdate"):
                if "time" in e:
                    exec_op[e["executionId"]] = by_time(e["time"])
                files_accs |= _metric_ids(e["sparkPlanInfo"], "number of files read")
            elif kind == _SQL_EVENT + "DriverAccumUpdates":
                op = exec_op.get(e["executionId"])
                if op is not None:
                    by_op[op]["spark.files_read"] += sum(
                        v for acc, v in e["accumUpdates"] if acc in files_accs)
            elif kind == "SparkListenerStageCompleted":
                op = stage_op.get(e["Stage Info"]["Stage ID"])
                if op is not None:
                    by_op[op]["spark.stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                op = stage_op.get(e["Stage ID"])
                if op is None or e.get("Task Metrics") is None:
                    continue
                _add_task(by_op[op], e["Task Info"], e["Task Metrics"])
    return by_op, how


def _metric_ids(plan: dict, name: str) -> set[int]:
    """Accumulator ids of every metric called ``name`` in a plan tree."""
    out = {m["accumulatorId"] for m in plan.get("metrics", []) if m["name"] == name}
    for child in plan.get("children", []):
        out |= _metric_ids(child, name)
    return out


def _add_task(acc: dict, info: dict, m: dict) -> None:
    acc["spark.tasks"] += 1
    run_ms = m["Executor Run Time"]
    duration_ms = info["Finish Time"] - info["Launch Time"]
    acc["spark.scheduler_delay_s"] += max(
        0,
        duration_ms - run_ms - m["Executor Deserialize Time"]
        - m["Result Serialization Time"] - info.get("Getting Result Time", 0),
    ) / 1000.0
    acc["spark.executor_cpu_s"] += m["Executor CPU Time"] / 1e9
    acc["spark.executor_run_s"] += run_ms / 1000.0
    acc["spark.gc_s"] += m["JVM GC Time"] / 1000.0
    sr = m["Shuffle Read Metrics"]
    acc["spark.shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
    acc["spark.shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
    acc["spark.spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    acc["spark.input_bytes"] += m["Input Metrics"]["Bytes Read"]
    for a in info.get("Accumulables", []):
        key = _PY_METRICS.get(a.get("Name"))
        if key is None or a.get("Update") is None:
            continue
        value = float(a["Update"])
        acc[key] += value / 1000.0 if key in _MS_METRICS else value
