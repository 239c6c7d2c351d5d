"""Fast no-Spark lockstep gate (VERDICT r5 item 3): run this file alone
(`python -m pytest tests/test_lockstep.py -q`, seconds) before any
commit that touches the registry. The same three-way drift — a query
registered in code without its SURVEY §2 row and/or its full-bench
artifact row — shipped in r3 and r5; this gate catches it without a
SparkSession or the 9-minute suite. tools/lockstep.py is the CLI twin.
"""

from __future__ import annotations

from hdfs_mr_spark import lockstep


def test_survey_registry_bench_lockstep():
    report = lockstep.lockstep_report()
    assert lockstep.is_green(report), report


def test_coverage_md_is_current():
    """COVERAGE.md is exactly what tools/coverage_snapshot.py renders now:
    every impl row points at its query's current line and the bench
    column reads the newest headline BENCH_r<N>.json record. Regenerate
    with `python tools/coverage_snapshot.py` after moving a query."""
    import importlib.util
    from pathlib import Path

    repo = Path(__file__).resolve().parents[1]
    spec = importlib.util.spec_from_file_location(
        "coverage_snapshot", repo / "tools" / "coverage_snapshot.py")
    snapshot = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(snapshot)
    assert (repo / "COVERAGE.md").read_text() == snapshot.render()
