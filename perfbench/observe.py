"""What the benchmark reads about a run besides its own clock.

- ``Spans``: in-memory trace spans (name, start, end, parent, run id)
  recorded around the calls into each sparkdu layer, written out at the end.
- ``sql_metrics``: Spark's own per-operator SQL metrics for every execution
  since a given one, read from the session's SQL status store. It needs no
  extra Spark action and works with the UI off.
- ``stage_tasks``: task durations and failed task attempts per stage, from
  the application status store.
- ``/proc`` readers: the high-water RSS of the driver JVM and its Python
  workers, and the CPU time split (for steal) of the whole host.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time

# ------------------------------------------------------------------ spans


class Spans:
    """Spans of one run. ``span`` nests: the enclosing open span is the
    parent. Times are wall-clock seconds since the epoch, so they line up
    with the status store's execution times."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.rows: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        row = {"id": len(self.rows), "name": name, "run_id": self.run_id,
               "parent": self._open[-1] if self._open else None,
               "start": time.time(), "end": None}
        self.rows.append(row)
        self._open.append(row["id"])
        try:
            yield row
        finally:
            row["end"] = time.time()
            self._open.pop()

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.rows
                if r["name"] == name and r["end"] is not None]

    def dump(self, path: str, executions: list[dict]) -> None:
        """Write the spans and the SQL executions they cover."""
        with open(path, "w") as fh:
            json.dump({"spans": self.rows, "executions": executions}, fh)


@contextlib.contextmanager
def wrapped(module, attr: str, spans: Spans, name: str):
    """Replace ``module.attr`` by a wrapper that records a span per call,
    and restore it on exit. Callers that import the attribute at call time
    (``from .snapshots import commit_wave_snapshot`` inside a function) see
    the wrapper."""
    orig = getattr(module, attr)

    def timed(*a, **kw):
        with spans.span(name):
            return orig(*a, **kw)

    setattr(module, attr, timed)
    try:
        yield
    finally:
        setattr(module, attr, orig)


# ------------------------------------------------------- SQL status store

_UNITS = {"": 1.0, "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
          "TiB": 2.0**40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A status-store metric string -> its total in base units (seconds,
    bytes or a count). Multi-task metrics read
    ``"total (min, med, max ...)\\n5.7 MiB (...)"``; the total comes first
    on the second line."""
    line = text.split("\n", 1)[-1]
    m = _VALUE.match(line.strip())
    if m is None or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def last_execution_id(spark) -> int:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.apply(execs.size() - 1).executionId() if execs.size() else -1


def sql_metrics(spark, after_id: int) -> list[dict]:
    """Every finished SQL execution with id > after_id, as
    {"id", "start", "end", "plan", "metrics": {"<node>|<metric>": total}}.
    Metrics of nodes with the same name are summed."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for k in range(execs.size()):
        e = execs.apply(k)
        if e.executionId() <= after_id or e.completionTime().isEmpty():
            continue
        values = store.executionMetrics(e.executionId())
        metrics: dict[str, float] = {}
        nodes = store.planGraph(e.executionId()).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            ms = node.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    key = f"{node.name().strip()}|{m.name()}"
                    metrics[key] = metrics.get(key, 0.0) + parse_metric(v.get())
        out.append({"id": e.executionId(),
                    "start": e.submissionTime() / 1e3,
                    "end": e.completionTime().get().getTime() / 1e3,
                    "plan": e.physicalPlanDescription(),
                    "metrics": metrics})
    return out


def metric_sum(execs: list[dict], node: str, name: str) -> float:
    return sum(e["metrics"].get(f"{node}|{name}", 0.0) for e in execs)


# ------------------------------------------------------ application store


def last_job_id(spark) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


def stage_tasks(spark, after_job: int) -> list[dict]:
    """Stages of the jobs with id > after_job that ran tasks:
    {"stage", "durations_ms", "failed"}."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    seen, out = set(), []
    for job in sorted(j for j in tracker.getJobIdsForGroup(None) if j > after_job):
        info = tracker.getJobInfo(job)
        for sid in (info.stageIds if info else []):
            stage = tracker.getStageInfo(sid)
            if sid in seen or stage is None:
                continue
            seen.add(sid)
            tasks = store.taskList(sid, stage.currentAttemptId, 1 << 20)
            durs = []
            for k in range(tasks.size()):
                d = tasks.apply(k).duration()
                if d.isDefined():
                    durs.append(d.get())
            if durs:
                out.append({"stage": sid, "durations_ms": durs,
                            "failed": stage.numFailedTasks})
    return out


def gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


# ------------------------------------------------------------------ /proc


def _status_kb(pid: int, key: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                # the command name may hold spaces: ppid follows its ')'
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def peak_rss_mb(jvm_pid: int) -> dict:
    """VmHWM in MB of the driver JVM, and summed over every process below
    it (the Python worker daemon and its forked workers)."""
    out = {"jvm": 0.0, "workers": 0.0}
    for pid in descendants(jvm_pid):
        try:
            out["jvm" if pid == jvm_pid else "workers"] += _status_kb(pid, "VmHWM") / 1024.0
        except OSError:
            pass  # a worker that exited between listing and reading
    return out


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if len(delta) > 7 and sum(delta) else 0.0
