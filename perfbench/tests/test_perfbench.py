"""Tests of the benchmark's own code (no Spark session needed).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402
from counters import idle_seconds, task_skew  # noqa: E402
from tracing import Tracer  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    params = run.WORKLOADS[workload]["gen"]
    a = gen.generate(tmp_path / "a", 7, params)
    b = gen.generate(tmp_path / "b", 7, params)
    c = gen.generate(tmp_path / "c", 8, params)
    assert a.name == b.name != c.name
    fa, fb, fc = _files(a), _files(b), _files(c)
    assert fa == fb
    assert set(fa) == {f"{t}.parquet" for t in gen.TABLES} | {"manifest.json"}
    # region and nation are fixed dimension tables; every other table moves
    differ = {n for n in fa if fa[n] != fc[n]}
    assert differ == set(fa) - {"region.parquet", "nation.parquet"}


def test_layout_matches_testdata(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = gen.generate(tmp_path, 1, run.WORKLOADS["tpch_lake_stream"]["gen"])
    manifest = json.loads((d / "manifest.json").read_text())
    for t in gen.TABLES:
        f = pq.ParquetFile(d / f"{t}.parquet")
        assert f.metadata.num_row_groups == 1
        assert f.metadata.row_group(0).column(0).compression == "SNAPPY"
        assert f.metadata.num_rows == manifest["tables"][t]["rows"]
    ev = pq.read_schema(d / "events.parquet")
    assert ev.field("ts").type == pa.timestamp("us")
    emb = pq.read_schema(d / "embeddings.parquet")
    assert emb.field("embedding").type == pa.list_(pa.float32())


def test_existing_directory_is_not_rewritten(tmp_path):
    d = gen.generate(tmp_path, 3, {})
    assert gen.generate(tmp_path, 3, {"docs": 600}) != d
    mtimes = {p.name: p.stat().st_mtime_ns for p in d.iterdir()}
    assert gen.generate(tmp_path, 3, {}) == d
    assert mtimes == {p.name: p.stat().st_mtime_ns for p in d.iterdir()}


def _fake_pass(tag, queries, wall=1.0):
    qs = []
    for i, name in enumerate(queries):
        qs.append({
            "query": name, "wall": wall / len(queries),
            "net": wall / len(queries) - 0.01, "stolen": 0.04, "build": 0.1,
            "exec": wall / len(queries) - 0.1, "gc_s": 0.01, "error": None,
            "start_ms": 1000.0 * i, "end_ms": 1000.0 * i + 500,
            "counters": {
                "jobs": 2, "tasks": 4, "executor_s": 0.2, "idle_s": 0.1,
                "shuffle_mb": 0.5, "spill_mb": 0.0, "input_rows": 10,
                "input_mb": 0.1, "output_rows": 3, "python_rows": 0,
                "durations": [0.1, 0.1, 0.2], "job_spans": [(1, 1000.0 * i, 1000.0 * i + 400)],
                "batches": [],
            },
        })
    return {"tag": tag, "wall": wall, "net": sum(q["net"] for q in qs),
            "queries": qs}


def _bench(workload, tmp_path):
    b = run.Bench(workload, 1, 10, False)
    b.data_dir = gen.generate(tmp_path, 1, b.wl["gen"])
    b.manifest = json.loads((b.data_dir / "manifest.json").read_text())
    b.setup_s = 12.0
    b.attempted, b.failed = 10, 0

    class _Rss:
        def stop(self):
            return 1.5e9

    b.rss = _Rss()
    return b


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_end_to_end_names_and_rows_numerator(tmp_path, workload):
    b = _bench(workload, tmp_path)
    passes = [_fake_pass(f"pass{i}", b.wl["queries"], 2.0 + i) for i in range(3)]
    values = b._end_to_end(passes)
    # every declared metric is measured; the two extras go to the record
    assert set(values) == {m["name"] for m in BENCH["end_to_end"]} | \
        {"peak_rss_mb", "fail_ratio"}
    printed = run.with_units(values, BENCH["end_to_end"])
    assert list(printed) == [m["name"] for m in BENCH["end_to_end"]]
    assert all(v["value"] > 0 for v in printed.values())
    rows = sum(b.manifest["tables"][t]["rows"] for t in b.wl["tables"])
    assert b.record["samples"]["input_rows_per_pass"] == rows
    assert values["rows_per_s"] * values["wall_s"] == pytest.approx(rows)


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_per_layer_names_match_benchmark_json(workload):
    wl = run.WORKLOADS[workload]
    layers = dict.fromkeys(wl["queries"], "scans")
    tr = Tracer.__new__(Tracer)
    tr.workload, tr.layer = workload, layers
    passes = [_fake_pass(f"pass{i}", wl["queries"]) for i in range(2)]
    setup = {"session_start_s": 5.0, "registry_load_s": 0.4, "stats_s": [0.1, 0.2, 0.1]}
    values = tr.metrics(setup, passes)
    assert set(values) == {m["name"] for m in BENCH["per_layer"]}
    rep = tr.report(passes)
    assert rep["repeatability"]["unstable_queries"] == []
    assert {s["kind"] for s in rep["spans"]} == {"workload", "pass", "query",
                                                 "build", "exec", "job"}


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)


def test_idle_and_skew():
    assert idle_seconds(0, 1000, [(100, 300), (200, 400), (600, 700)]) == 0.6
    assert idle_seconds(0, 1000, []) == 1.0
    assert task_skew([1.0, 1.0, 4.0]) == 4.0


def test_quantile_tail():
    assert run.quantile_tail([1.0, 3.0, 2.0]) == (3.0, 100)
    vals = [float(i) for i in range(1, 41)]
    value, pct = run.quantile_tail(vals)
    assert pct == 75 and sum(v > value for v in vals) >= 10


def test_refuses_without_engine_sources(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark's own
    files, the command fails fast and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / HERE.name,
                    ignore=shutil.ignore_patterns("data", "out", ".work",
                                                  "__pycache__"))
    p = subprocess.run(BENCH["command"] + ["--workload", BENCH["workloads"][0]["name"],
                                           "--seed", "1", "--seconds", "1",
                                           "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
