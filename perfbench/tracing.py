"""Traced runs: per-query counters, per-layer metrics, spans and the
counter repeatability report.

Spans nest as workload -> pass -> query -> build/exec -> Spark job; the
counts are taken at the same query boundaries. Everything is kept in
memory and written into the run record at the end.
"""

from __future__ import annotations

import statistics
import time

from counters import BatchListener, StatusReader, task_skew

# The engine modules that register queries; a query's layer is its module.
LAYERS = ("scans", "joins", "aggregates", "sorts", "tpch", "windows", "mrjobs",
          "llm_dedup", "llm_text", "llm_similarity", "lake", "streaming")
LAYER_KEYS = ("build_s", "exec_s", "jobs", "tasks", "executor_s", "idle_s",
              "shuffle_mb", "spill_mb", "task_skew")
SUMMED = ("executor_s", "idle_s", "shuffle_mb", "spill_mb", "jobs", "tasks")


class Tracer:
    def __init__(self, spark, workload: str, layer: dict[str, str]):
        self.reader = StatusReader(spark)
        self.listener = BatchListener()
        spark.streams.addListener(self.listener)
        self.workload = workload
        self.layer = layer
        self._cut = time.perf_counter()

    def collect(self, q: dict) -> None:
        """Read the counters of query record ``q`` (after it finished)."""
        c = self.reader.query(q["group"], q["start_ms"], q["end_ms"])
        now = time.perf_counter()
        c["batches"] = self.listener.between(self._cut, now)
        self._cut = now
        q["counters"] = c

    # ---- metrics -------------------------------------------------------
    def _pass_values(self, p: dict, layers) -> tuple[dict[str, float], list[float]]:
        v = {f"{L}.{k}": 0.0 for L in layers for k in LAYER_KEYS}
        durations: dict[str, list[float]] = {L: [] for L in layers}
        cross = dict.fromkeys(("io.input_rows", "io.input_mb", "io.output_rows",
                               "udfs.python_rows", "streaming.batches",
                               "streaming.state_rows", "jvm.gc_s"), 0.0)
        batch_ms = []
        for q in p["queries"]:
            L, c = self.layer[q["query"]], q["counters"]
            v[f"{L}.build_s"] += q["build"]
            v[f"{L}.exec_s"] += q["exec"]
            for k in SUMMED:
                v[f"{L}.{k}"] += c[k]
            durations[L].extend(c["durations"])
            cross["io.input_rows"] += c["input_rows"]
            cross["io.input_mb"] += c["input_mb"]
            cross["io.output_rows"] += c["output_rows"]
            cross["udfs.python_rows"] += c["python_rows"]
            cross["jvm.gc_s"] += q["gc_s"]
            batches = [b for b in c["batches"] if b["input_rows"] or b["state_rows"]]
            cross["streaming.batches"] += len(batches)
            batch_ms += [b["duration_ms"].get("triggerExecution", 0) for b in batches]
            last = {}
            for b in c["batches"]:
                last[b["query"]] = b["state_rows"]
            cross["streaming.state_rows"] += sum(last.values())
        for L in layers:
            v[f"{L}.task_skew"] = task_skew(durations[L]) if durations[L] else 0.0
        v.update(cross)
        return v, batch_ms

    def metrics(self, setup: dict, passes: list[dict]) -> dict[str, float]:
        """Every per-layer metric: the median over passes of each pass's
        sum, and the set-up figures; layers without queries read 0."""
        per_pass, batch_ms = [], []
        for p in passes:
            vals, ms = self._pass_values(p, LAYERS)
            per_pass.append(vals)
            batch_ms += ms
        out = {k: statistics.median(pv[k] for pv in per_pass) for k in per_pass[0]}
        out["session.start_s"] = setup["session_start_s"]
        out["registry.load_s"] = setup["registry_load_s"]
        out["stats.s"] = statistics.median(setup["stats_s"])
        out["streaming.batch_ms"] = statistics.median(batch_ms) if batch_ms else 0.0
        return out

    # ---- report ----------------------------------------------------------
    def report(self, passes: list[dict]) -> dict:
        return {"repeatability": self._repeatability(passes),
                "per_query_counters": self._per_query(passes),
                "spans": self._spans(passes)}

    def _per_query(self, passes):
        out = {}
        for p in passes:
            for q in p["queries"]:
                c = q["counters"]
                out.setdefault(q["query"], []).append({
                    "pass": p["tag"], "wall_s": q["wall"], "jobs": c["jobs"],
                    "tasks": c["tasks"], "executor_s": c["executor_s"],
                    "idle_s": c["idle_s"], "task_skew": task_skew(c["durations"]),
                    "python_rows": c["python_rows"],
                    "batches": len(c["batches"]), "gc_s": q["gc_s"]})
        return out

    def _repeatability(self, passes):
        """Counts that differ between warm passes of the same inputs."""
        seen: dict[tuple[str, str], list[int]] = {}
        for p in passes:
            for q in p["queries"]:
                for k in ("jobs", "tasks"):
                    seen.setdefault((q["query"], k), []).append(q["counters"][k])
        by_layer: dict[tuple[str, str], list[int]] = {}
        for p in passes:
            acc: dict[tuple[str, str], int] = {}
            for q in p["queries"]:
                for k in ("jobs", "tasks"):
                    key = (self.layer[q["query"]], k)
                    acc[key] = acc.get(key, 0) + q["counters"][k]
            for key, n in acc.items():
                by_layer.setdefault(key, []).append(n)
        unstable = [{"query": q, "counter": k, "values": v}
                    for (q, k), v in seen.items() if v and len(set(v)) > 1]
        unstable_layers = [{"layer": L, "counter": k, "values": v}
                           for (L, k), v in by_layer.items() if len(set(v)) > 1]
        return {"passes": len(passes), "unstable_queries": unstable,
                "unstable_layers": unstable_layers}

    def _spans(self, passes):
        spans, nid = [], [0]

        def add(name, kind, start, end, parent):
            nid[0] += 1
            spans.append({"id": nid[0], "parent": parent, "name": name,
                          "kind": kind, "start_ms": start, "end_ms": end})
            return nid[0]

        qs = [q for p in passes for q in p["queries"]]
        root = add(self.workload, "workload", qs[0]["start_ms"], qs[-1]["end_ms"], None)
        for p in passes:
            pq = p["queries"]
            pid = add(p["tag"], "pass", pq[0]["start_ms"], pq[-1]["end_ms"], root)
            for q in pq:
                qid = add(q["query"], "query", q["start_ms"], q["end_ms"], pid)
                mid = q["start_ms"] + q["build"] * 1000
                bid = add("build", "build", q["start_ms"], mid, qid)
                eid = add("exec", "exec", mid, q["end_ms"], qid)
                for job, s, e in q["counters"]["job_spans"]:
                    parent = bid if s is not None and s < mid else eid
                    add(f"job {job}", "job", s, e, parent)
        return spans
