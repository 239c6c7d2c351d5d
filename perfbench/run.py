#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed (``perfbench/gen.py``), runs
the workload's queries on ``local[<cpus>]`` with the session from
``hdfs_mr_spark.session.get_spark`` (no other engine conf), checks every
query against its DuckDB oracle, then times passes over the queries for
``S`` seconds. The load is a closed loop with one client: this process
issues the queries back-to-back, each forced with the ``noop`` sink.

Phases of a run:

1. set-up, twice. The first is cold: process start, imports, JVM
   launch in ``get_spark``, ``registry.all_specs()``, then the oracle check
   of every query (``hdfs_mr_spark.check.check_query``), which is the
   untimed warm-up pass; the time spent inside DuckDB is taken out. The
   second stops the SparkContext, starts a new one on the running JVM and
   calls every query's callable without forcing it, which refills the
   stats cache (keyed by application id). Process start to registry
   loaded cannot repeat in one process, so it is counted once and added
   to the second. ``setup_s`` is the median of the two (a third set-up
   would add a restart and a warm-up to every run);
2. the frozen environment control (``tools/bench_control.run_control``);
3. timed passes until ``S`` seconds have elapsed (at least three). The
   first one also starts the new application's Python workers and is
   usually the slowest; the median of three leaves it out. Every timing
   in the metrics has the CPU time stolen by the hypervisor while it ran,
   divided by the number of CPUs, taken out (see ``_run_query``); the raw
   wall times are in the record too.

The workloads' names and reasons and every metric's name and unit are
read from ``BENCHMARK.json``; each workload's queries, input tables and
generator parameters are in ``WORKLOADS`` below.

Streaming memory-sink views are dropped after every query and both
runtimes collect garbage after every pass, outside the timed queries.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
phases, reads Spark's status stores after each query (outside its timing)
and prints the per-layer metrics. Every run writes its full record
(samples, control ratio, check results; spans and the counter
repeatability report when traced) to ``perfbench/out/``. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The record also holds ``peak_rss_mb`` and
``fail_ratio``, which are not declared metrics (see ``README.md``).
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DEADLINE_S = 170
SETUPS = 2
MIN_PASSES = 3

# Per workload: the queries of one pass, the tables whose manifest row
# counts are a pass's input rows, and the generator parameters.
WORKLOADS = {
    "graph_llm": {
        "queries": ["mr_label_propagation", "llm_sim_knn_ivf",
                    "llm_tokenizer_viterbi", "llm_dedup_exact"],
        "tables": ["orders", "lineitem", "embeddings", "documents"],
        "gen": {"sf": 0.001, "docs": 400, "vocab": 2000},
    },
    "tpch_lake_stream": {
        "queries": ["scan_parquet", "join_shuffle_inner", "agg_groupby",
                    "sort_global", "sql_tpch_q1_pricing_summary",
                    "win_topk_per_group", "lake_concurrent_disjoint",
                    "stream_incremental_restart"],
        "tables": ["lineitem", "orders", "customer", "events"],
        "gen": {"sf": 0.002, "events": 2000, "users": 40},
    },
}


def declared() -> dict:
    """BENCHMARK.json, which sits at the root next to this directory."""
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def with_units(values: dict, metrics: list[dict]) -> dict:
    """The declared ``metrics`` in their order and units, from ``values``."""
    missing = [m["name"] for m in metrics if m["name"] not in values]
    if missing:
        raise KeyError(f"declared metrics not measured: {missing}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in metrics}


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


PROCESS_START = time.perf_counter() - _process_age_s()


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def layer_of(spec) -> str:
    """Layer = the engine module that registers the query."""
    parts = spec.fn.__module__.split(".")
    return "streaming" if parts[1] == "streaming" else parts[-1]


def quantile_tail(values: list[float]) -> tuple[float, int]:
    """Highest percentile with at least ten samples beyond it, or the
    maximum (p100) when there are too few samples for one."""
    n = len(values)
    p = math.floor(100 * (1 - 10 / n)) if n > 10 else 100
    if p >= 100:
        return max(values), 100
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1], p


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.bench = declared()
        self.wl = WORKLOADS[workload]
        self.name, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = HERE / ".work" / f"run-{os.getpid()}"
        self.record: dict = {"workload": workload, "seed": seed,
                             "seconds": seconds, "trace": int(trace)}
        self.spark = None
        self.data_dir: Path | None = None
        self.attempted = 0
        self.failed = 0
        self.stats_s = 0.0

    # ---- environment ---------------------------------------------------
    def _environment(self) -> None:
        cpus = len(os.sched_getaffinity(0))
        tmp = self.work / "tmp"
        local = self.work / "spark-local"
        tmp.mkdir(parents=True, exist_ok=True)
        local.mkdir(parents=True, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["SPARK_LOCAL_DIRS"] = str(local)
        os.environ["TMPDIR"] = str(tmp)
        os.environ["JAVA_TOOL_OPTIONS"] = (
            os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp}"
        ).strip()
        self.record["cpus"] = cpus
        if str(ROOT) not in sys.path:
            sys.path.insert(0, str(ROOT))

    def _wrap_stats(self) -> None:
        """Time hdfs_mr_spark.stats public calls (callers look them up as
        module attributes, so rebinding the attribute reaches them)."""
        from hdfs_mr_spark import stats

        depth = [0]

        def timed(fn):
            def wrapper(*a, **kw):
                depth[0] += 1
                t0 = time.perf_counter()
                try:
                    return fn(*a, **kw)
                finally:
                    depth[0] -= 1
                    if depth[0] == 0:
                        self.stats_s += time.perf_counter() - t0
            return wrapper

        for name in ("n_docs", "n_tokens", "embed_stats", "max_shingle_df",
                     "vocab_size"):
            setattr(stats, name, timed(getattr(stats, name)))

    # ---- query execution -----------------------------------------------
    def _drop_stream_views(self) -> None:
        """Streaming queries drain into memory-sink temp views that pin
        their result in the JVM; drop them after each query."""
        for tv in self.spark.catalog.listTables(pattern="hmr_stream_*"):
            if tv.isTemporary:
                self.spark.catalog.dropTempView(tv.name)

    def _collect_garbage(self) -> None:
        """Collect garbage in both runtimes between passes, so released
        checkpoint and broadcast blocks do not carry into the next pass."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def _run_query(self, name: str, group: str) -> dict:
        """Run and force one query. ``net`` is its wall time less the CPU
        time the hypervisor gave to other machines meanwhile, per CPU: on
        a shared virtual machine that stolen time is most of the spread
        between runs, and the program has no part in it. At most half of
        the wall time is taken out."""
        from counters import steal_seconds

        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        stolen0 = steal_seconds()
        w0, t0 = time.time(), time.perf_counter()
        error = None
        t1 = t0
        try:
            df = self.specs[name].fn(self.spark, str(self.data_dir))
            t1 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
        except Exception as e:  # noqa: BLE001 - counted as a failed query
            error = f"{type(e).__name__}: {e}"[:500]
        t2 = time.perf_counter()
        stolen = steal_seconds() - stolen0
        sc.setLocalProperty("spark.jobGroup.id", None)
        wall = t2 - t0
        return {"query": name, "group": group, "wall": wall,
                "net": max(wall - stolen / self.record["cpus"], wall / 2),
                "stolen": stolen, "build": t1 - t0, "exec": t2 - t1,
                "start_ms": w0 * 1000, "end_ms": (w0 + wall) * 1000,
                "error": error}

    def _pass(self, tag: str, tracer=None) -> dict:
        queries = []
        for name in self.wl["queries"]:
            gc0 = tracer.reader.gc_ms() if tracer else 0
            q = self._run_query(name, f"perfbench:{tag}:{name}")
            if tracer:
                q["gc_s"] = (tracer.reader.gc_ms() - gc0) / 1000.0
            self._drop_stream_views()
            if tracer:
                tracer.collect(q)
            queries.append(q)
            if q["error"]:
                print(f"perfbench: {name} raised {q['error']}", file=sys.stderr)
        self._collect_garbage()
        return {"tag": tag, "wall": sum(q["wall"] for q in queries),
                "net": sum(q["net"] for q in queries),
                "stolen": sum(q["stolen"] for q in queries), "queries": queries}

    # ---- phases --------------------------------------------------------
    def _generate(self) -> None:
        sys.path.insert(0, str(HERE))
        import gen

        t0 = time.perf_counter()
        self.data_dir = gen.generate(HERE / "data", self.seed, self.wl["gen"])
        self.record["gen_s"] = time.perf_counter() - t0
        self.manifest = json.loads((self.data_dir / "manifest.json").read_text())
        self.record["data_dir"] = self.data_dir.name
        self.record["manifest"] = self.manifest

    def _session(self):
        from hdfs_mr_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        from hdfs_mr_spark.registry import all_specs

        self.specs = all_specs()
        return t1 - t0, time.perf_counter() - t1

    def _setups(self) -> None:
        """The set-ups; see the module docstring. The first one's warm-up
        pass is the oracle check, with the DuckDB side's time taken out."""
        session_s, registry_s = self._session()
        self._wrap_stats()
        boot_s = time.perf_counter() - PROCESS_START - self.record["gen_s"]
        missing = [q for q in self.wl["queries"] if q not in self.specs]
        if missing:
            raise KeyError(f"queries not in the registry: {missing}")
        setups, stats, excluded_s, phases = [], [], [], []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            self.stats_s = 0.0
            if i == 0:
                excluded = self._check()
            else:
                self.spark.stop()
                self._session()
                self._warm_up(f"setup{i}")
                excluded = 0.0
            stats.append(self.stats_s)
            phases.append(time.perf_counter() - t0)
            setups.append(boot_s + phases[-1] - excluded)
            excluded_s.append(excluded)
        self.record["setup"] = {"samples_s": setups, "boot_s": boot_s,
                                "phases_s": phases,
                                "oracle_s_excluded": excluded_s,
                                "session_start_s": session_s,
                                "registry_load_s": registry_s,
                                "stats_s": stats}
        self.setup_s = statistics.median(setups)

    def _warm_up(self, tag: str) -> None:
        """Call every query's callable without forcing its result: in the
        new application this refills the stats cache, which is keyed by
        application id, and reopens the fixture stores."""
        sc = self.spark.sparkContext
        for name in self.wl["queries"]:
            sc.setJobGroup(f"perfbench:{tag}:{name}", name)
            self.specs[name].fn(self.spark, str(self.data_dir))
            self._drop_stream_views()
        sc.setLocalProperty("spark.jobGroup.id", None)
        self._collect_garbage()

    def _check(self) -> float:
        """Compare every query with its DuckDB oracle; return the seconds
        spent inside DuckDB."""
        from hdfs_mr_spark.check import check_query, oracle_connection

        con = _TimedConnection(oracle_connection(str(self.data_dir)))
        results = {}
        for name in self.wl["queries"]:
            self.spark.sparkContext.setJobGroup(f"perfbench:check:{name}", name)
            t0 = time.perf_counter()
            r = check_query(self.specs[name], self.spark, con, str(self.data_dir))
            self._drop_stream_views()
            results[name] = {"ok": r.ok, "detail": r.detail,
                             "seconds": time.perf_counter() - t0}
            self.attempted += 1
            self.failed += 0 if r.ok else 1
            if not r.ok:
                print(f"perfbench: oracle mismatch {name}: {r.detail}",
                      file=sys.stderr)
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self._collect_garbage()
        con.close()
        self.record["check"] = results
        return con.seconds

    def _control(self) -> None:
        from tools.bench_control import run_control

        self.record["control"] = run_control(self.spark, str(self.data_dir), runs=1)

    def _timed(self) -> list[dict]:
        tracer = None
        if self.trace:
            from tracing import Tracer

            tracer = Tracer(self.spark, self.name,
                            {q: layer_of(self.specs[q]) for q in self.wl["queries"]})
        passes = []
        t_start = time.perf_counter()
        while (len(passes) < MIN_PASSES
               or time.perf_counter() - t_start < self.seconds):
            passes.append(self._pass(f"pass{len(passes)}", tracer))
        for p in passes:
            for q in p["queries"]:
                self.attempted += 1
                self.failed += 1 if q["error"] else 0
        self.tracer = tracer
        return passes

    # ---- metrics -------------------------------------------------------
    def _end_to_end(self, passes: list[dict]) -> dict:
        """Timings are the ``net`` ones of ``_run_query``."""
        walls = [p["net"] for p in passes]
        per_query: dict[str, list[float]] = {}
        for p in passes:
            for q in p["queries"]:
                per_query.setdefault(q["query"], []).append(q["net"])
        medians = [statistics.median(v) for v in per_query.values()]
        wall_s = statistics.median(walls)
        tail, pct = quantile_tail(walls)
        rows = sum(self.manifest["tables"][t]["rows"] for t in self.wl["tables"])
        self.record["samples"] = {
            "pass_net_s": walls, "passes": len(walls),
            "pass_walls_s": [p["wall"] for p in passes],
            "wall_s_tail_percentile": pct,
            "query_walls_s": per_query, "input_rows_per_pass": rows,
        }
        return {
            "setup_s": self.setup_s,
            "wall_s": wall_s,
            "wall_s_tail": tail,
            "rows_per_s": rows / wall_s,
            "query_geomean_s": math.exp(statistics.fmean(
                math.log(m) for m in medians)),
            "ok_ratio": 1 - self.failed / self.attempted,
            "fail_ratio": self.failed / self.attempted,
            "peak_rss_mb": self.rss.stop() / 1e6,
        }

    # ---- driver --------------------------------------------------------
    def run(self) -> dict:
        from counters import PeakRss

        self._environment()
        self._generate()
        self.rss = PeakRss()
        self.rss.start()
        self._setups()
        t0 = time.perf_counter()
        self._control()
        t1 = time.perf_counter()
        passes = self._timed()
        self.record["phases_s"] = {"control": t1 - t0,
                                   "timed": time.perf_counter() - t1}
        values = self._end_to_end(passes)
        self.record["end_to_end"] = values
        if self.trace:
            values = self.tracer.metrics(self.record["setup"], passes)
            self.record.update(self.tracer.report(passes))
        self.record["passes"] = [
            {"tag": p["tag"], "wall": p["wall"], "net": p["net"],
             "stolen": p["stolen"],
             "queries": {q["query"]: {k: q[k] for k in ("wall", "net", "stolen",
                                                        "build", "exec", "error")}
                         for q in p["queries"]}}
            for p in passes]
        self.record["metrics"] = with_units(
            values, self.bench["per_layer" if self.trace else "end_to_end"])
        self._overhead(passes)
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": self.record["metrics"]}

    def _overhead(self, passes: list[dict]) -> None:
        """Traced wall_s minus the untraced wall_s of the same workload and
        seed, when the untraced record exists."""
        out = HERE / "out"
        other = out / f"{self.name}-seed{self.seed}-trace{0 if self.trace else 1}.json"
        wall = statistics.median(p["wall"] for p in passes)
        self.record["wall_s"] = wall
        if other.exists():
            o = json.loads(other.read_text()).get("wall_s")
            if o is not None:
                traced, untraced = (wall, o) if self.trace else (o, wall)
                self.record["tracing_overhead_s"] = traced - untraced

    def write_record(self) -> None:
        out = HERE / "out"
        out.mkdir(exist_ok=True)
        path = out / f"{self.name}-seed{self.seed}-trace{int(self.trace)}.json"
        path.write_text(json.dumps(self.record, indent=1, default=str) + "\n")

    def close(self) -> None:
        """Stop Spark and every process it started, wait for them, and
        remove this run's scratch files and the engine's fixtures for it."""
        from counters import descendants

        kids = descendants(os.getpid())
        try:
            if self.spark is not None:
                self.spark.stop()
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=20)
                    except Exception:  # noqa: BLE001
                        proc.kill()
                        proc.wait()
        finally:
            _wait_gone(kids)
            shutil.rmtree(self.work, ignore_errors=True)
            if self.data_dir is not None:
                _remove_engine_fixtures(self.data_dir.name)


class _TimedConnection:
    """DuckDB connection proxy that accumulates the time spent in oracle
    queries, so the check can stand in for a warm-up pass."""

    def __init__(self, con):
        self._con = con
        self.seconds = 0.0

    def execute(self, sql: str):
        t0 = time.perf_counter()
        self._con.execute(sql)
        self.seconds += time.perf_counter() - t0
        return self

    def fetchdf(self):
        t0 = time.perf_counter()
        try:
            return self._con.fetchdf()
        finally:
            self.seconds += time.perf_counter() - t0

    def close(self) -> None:
        self._con.close()


def _wait_gone(pids: list[int], timeout: float = 15.0) -> None:
    deadline = time.monotonic() + timeout
    live = list(pids)
    while live:
        live = [p for p in live if os.path.exists(f"/proc/{p}")
                and _state(p) != "Z"]
        if not live:
            return
        if time.monotonic() > deadline:
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)
        for p in live:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "Z"


def _remove_engine_fixtures(data_name: str) -> None:
    """The engine derives fixtures for an input directory under fixed
    paths keyed by the directory's name; remove the ones of this run's
    inputs so repeated runs do not accumulate them."""
    try:
        from hdfs_mr_spark.sources.scans import FIXTURE_ROOT
    except Exception:  # noqa: BLE001
        return
    for d in glob.glob(str(FIXTURE_ROOT / f"{data_name}-*")):
        shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(Path("/tmp/hmr_stream_src") / data_name, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "hdfs_mr_spark" / "session.py").is_file() or \
            not (ROOT / "tools" / "bench_control.py").is_file():
        print("perfbench: the engine sources (hdfs_mr_spark/, tools/) are not "
              f"next to {HERE.name}/; run from a full checkout", file=sys.stderr)
        return 2
    names = [w["name"] for w in declared()["workloads"]]
    if args.workload not in names or args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: "
              f"{names}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        result = bench.run()
        bench.write_record()
    finally:
        signal.alarm(0)
        t0 = time.perf_counter()
        bench.close()
        print(f"perfbench: shut down in {time.perf_counter() - t0:.1f} s",
              file=sys.stderr)
    e2e = bench.record["end_to_end"]
    print(f"perfbench: {args.workload} seed {args.seed}: "
          + ", ".join(f"{k}={v:.4g}" for k, v in e2e.items())
          + f" ({bench.attempted} queries attempted, "
            f"{bench.record['samples']['passes']} timed passes)", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
