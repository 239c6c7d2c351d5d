"""Counters read from outside the engine: Spark's status stores, JVM GC
beans, a StreamingQueryListener, and /proc for resident memory.

Nothing here changes engine behaviour; every value comes from state Spark
keeps anyway (the status store answers with ``spark.ui.enabled=false``) or
from the operating system.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

MB = 1e6
_PY_NODE_MARKERS = ("Python", "Pandas", "InArrow")
_ROW_METRICS = ("number of output rows", "records read", "shuffle records written")


def _num(text: str | None) -> float:
    """Parse a SQL metric's display string ('1,234' or '1,234 (...)')."""
    if not text:
        return 0.0
    head = text.split("\n")[-1].split("(")[0].replace(",", "").strip()
    try:
        return float(head.split()[0])
    except (ValueError, IndexError):
        return 0.0


class StatusReader:
    """Per-query job, stage and task counters from the AppStatusStore."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        scala = getattr(self._jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$").__getattr__("MODULE$")
        self._mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala)
        self._sql_seen = self._sql.executionsCount()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs_of(self, group: str, timeout: float = 5.0) -> list[dict]:
        """Job records of ``group``, waiting until the store has all of them
        finished (store updates trail the action by a few milliseconds)."""
        deadline = time.monotonic() + timeout
        while True:
            ids = sorted(self._sc.statusTracker().getJobIdsForGroup(group))
            jobs = [self._json(self._store.job(i)) for i in ids]
            if all(j.get("completionTime") for j in jobs) or time.monotonic() > deadline:
                return jobs
            time.sleep(0.02)

    def query(self, group: str, start_ms: float, end_ms: float) -> dict:
        """Counters of one query run under job group ``group`` that ran
        from ``start_ms`` to ``end_ms`` (epoch milliseconds)."""
        jobs = self.jobs_of(group)
        out = {"jobs": len(jobs), "tasks": 0, "executor_s": 0.0,
               "shuffle_mb": 0.0, "spill_mb": 0.0, "input_rows": 0,
               "input_mb": 0.0, "output_rows": 0, "durations": [],
               "job_spans": []}
        intervals = []
        seen = set()
        for j in jobs:
            out["job_spans"].append((j["jobId"], j.get("submissionTime"),
                                     j.get("completionTime")))
            for sid in j["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self._json(self._store.stageData(
                    sid, False, self._jvm.java.util.ArrayList(), False,
                    self._no_quantiles))
                for st in attempts:
                    if st["status"] in ("SKIPPED", "PENDING"):
                        continue
                    out["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                    out["executor_s"] += st["executorRunTime"] / 1000.0
                    out["shuffle_mb"] += (st["shuffleReadBytes"]
                                          + st["shuffleWriteBytes"]) / MB
                    out["spill_mb"] += (st["memoryBytesSpilled"]
                                        + st["diskBytesSpilled"]) / MB
                    out["input_rows"] += st["inputRecords"]
                    out["input_mb"] += st["inputBytes"] / MB
                    out["output_rows"] += st["outputRecords"]
                    for t in self._json(self._store.taskList(
                            sid, st["attemptId"], 1 << 30)):
                        d = t.get("duration")
                        if d is None or t.get("launchTime") is None:
                            continue
                        out["durations"].append(d / 1000.0)
                        intervals.append((t["launchTime"], t["launchTime"] + d))
        out["idle_s"] = idle_seconds(start_ms, end_ms, intervals)
        out["python_rows"] = self._python_rows({j["jobId"] for j in jobs})
        return out

    def _python_rows(self, job_ids: set[int]) -> int:
        """Rows fed into Arrow/Python exec nodes of the SQL executions
        that ran ``job_ids``: the row count of each such node's input."""
        total, first = self._sql.executionsCount(), self._sql_seen
        self._sql_seen = total
        if total <= first or not job_ids:
            return 0
        rows = 0
        execs = self._sql.executionsList(int(first), int(total - first))
        for k in range(execs.size()):
            e = execs.apply(k)
            if not set(map(int, self._json(e.jobs()).keys())) & job_ids:
                continue
            plan = e.physicalPlanDescription() or ""
            if not any(m in plan for m in _PY_NODE_MARKERS):
                continue
            rows += _python_input_rows(self, e.executionId())
        return rows

    def gc_ms(self) -> int:
        beans = self._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(0, beans.get(i).getCollectionTime())
                   for i in range(beans.size()))


def _python_input_rows(reader: StatusReader, execution_id: int) -> int:
    graph = reader._sql.planGraph(execution_id)
    values = reader._json(reader._sql.executionMetrics(execution_id))
    nodes, children = {}, {}
    all_nodes = graph.allNodes()
    for i in range(all_nodes.size()):
        n = all_nodes.apply(i)
        ms = n.metrics()
        nodes[n.id()] = (n.name(), {
            ms.apply(q).name(): values.get(str(ms.apply(q).accumulatorId()))
            for q in range(ms.size())})
    edges = graph.edges()
    for i in range(edges.size()):
        e = edges.apply(i)
        children.setdefault(e.toId(), []).append(e.fromId())

    def rows_into(node_id: int) -> float:
        total = 0.0
        for c in children.get(node_id, []):
            name, metrics = nodes[c]
            hit = next((metrics[m] for m in _ROW_METRICS if metrics.get(m)), None)
            total += _num(hit) if hit is not None else rows_into(c)
        return total

    return int(sum(rows_into(i) for i, (name, _) in nodes.items()
                   if any(m in name for m in _PY_NODE_MARKERS)))


def idle_seconds(start_ms: float, end_ms: float,
                 intervals: list[tuple[float, float]]) -> float:
    """Part of [start_ms, end_ms] not covered by any task interval."""
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start_ms), min(e, end_ms))
                       for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, (end_ms - start_ms) - covered) / 1000.0


def task_skew(durations: list[float]) -> float:
    """Longest over median task duration (1.0 for no or uniform tasks)."""
    if not durations:
        return 1.0
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0


class BatchListener(StreamingQueryListener):
    """Collects every micro-batch progress report with its arrival time."""

    def __init__(self):
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "at": time.perf_counter(),
            "query": str(p.id),
            "batch": p.batchId,
            "input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        }
        with self._lock:
            self.events.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def between(self, t0: float, t1: float) -> list[dict]:
        with self._lock:
            return [e for e in self.events if t0 <= e["at"] < t1]


# ---- processes and memory -------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pids) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            pass
    return total


def steal_seconds() -> float:
    """CPU time the hypervisor gave to others, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class PeakRss(threading.Thread):
    """Samples the summed RSS of this process and all its descendants (the
    JVM and the Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, rss_bytes([me, *descendants(me)]))
            self._stop_evt.wait(self.interval)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak
