"""The media fixture table (sources/media.py FIXTURES): lazy first-use
writes, loud generator failures, and the oracle_sql() eager path —
plus an AST gate that keeps fixture writes out of import time."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from hdfs_mr_spark.sources import media, scans

PKG = Path(__file__).resolve().parents[1] / "hdfs_mr_spark"


@pytest.mark.parametrize("name", sorted(media.FIXTURES))
def test_fixture_lazy_write_idempotent_and_loud(name, tmp_path, monkeypatch):
    monkeypatch.setattr(scans, "FIXTURE_ROOT", tmp_path)
    n, gen = media.FIXTURES[name]
    path = media.fixture_path(name)

    def boom(doc_id):
        raise ZeroDivisionError("generator bug")

    monkeypatch.setitem(media.FIXTURES, name, (n, boom))
    with pytest.raises(RuntimeError, match=f"'{name}'"):
        media.fixture(name)
    assert not os.path.exists(path)
    assert not list(Path(path).parent.iterdir())

    monkeypatch.setitem(media.FIXTURES, name, (n, gen))
    assert media.fixture(name) == path
    t = pq.read_table(path)
    assert t.num_rows == n
    assert t.column("doc_id").to_pylist() == list(range(n))
    mtime = os.stat(path).st_mtime_ns
    assert media.fixture(name) == path
    assert os.stat(path).st_mtime_ns == mtime


def test_oracles_write_every_fixture(tmp_path, monkeypatch):
    import hdfs_mr_spark
    from hdfs_mr_spark.registry import all_specs

    all_specs()  # import every family before the root moves
    monkeypatch.setattr(scans, "FIXTURE_ROOT", tmp_path)
    assert not any(os.path.exists(media.fixture_path(n)) for n in media.FIXTURES)
    scan_dir = scans._fixture_dir(scans.ORACLE_SF)
    names = ("customer.csv", "events.jsonl", "documents.txt")
    assert not any((scan_dir / n).exists() for n in names)
    hdfs_mr_spark.oracles()
    missing = [n for n in media.FIXTURES if not os.path.exists(media.fixture_path(n))]
    assert missing == []
    assert all((scan_dir / n).exists() for n in names)


def test_oracles_without_testdata_return_every_string(tmp_path, monkeypatch):
    """On a host without the sf0.01 mount, oracles() still returns every
    oracle string (the scan fixtures are simply not written)."""
    import hdfs_mr_spark
    from hdfs_mr_spark.registry import all_specs

    specs = all_specs()
    monkeypatch.setattr(scans, "FIXTURE_ROOT", tmp_path)
    monkeypatch.setattr(scans, "ORACLE_SF", str(tmp_path / "no_testdata"))
    got = hdfs_mr_spark.oracles()
    assert set(got) == {n for n, s in specs.items() if s.oracle is not None}
    assert not list(tmp_path.glob("no_testdata-*"))


def _import_time_calls(tree: ast.Module) -> set[str]:
    """Names of every function called while the module executes: all
    module-level statements, decorators and defaults, and — transitively
    — the bodies of module functions those calls reach."""
    funcs = {
        n.name: n for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }
    todo: list[ast.AST] = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            todo += node.decorator_list + node.args.defaults
            todo += [d for d in node.args.kw_defaults if d is not None]
        elif isinstance(node, ast.ClassDef):
            todo += node.decorator_list
        else:
            todo.append(node)
    called: set[str] = set()
    while todo:
        for sub in ast.walk(todo.pop()):
            if not isinstance(sub, ast.Call):
                continue
            f = sub.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name and name not in called:
                called.add(name)
                if name in funcs:
                    todo += funcs[name].body
    return called


def test_import_time_calls_sees_through_oracle_builders():
    src = (
        "def q(oracle):\n    return lambda f: f\n"
        "def _sql():\n    return fixture('media')\n"
        "@q(oracle=_sql())\ndef body():\n    return fixture('media_px')\n"
    )
    assert "fixture" in _import_time_calls(ast.parse(src))
    assert "fixture" not in _import_time_calls(
        ast.parse(src.replace("return fixture('media')", "return 1"))
    )


@pytest.mark.parametrize("rel", ["functions/udfs.py", "streaming/queries.py"])
def test_media_fixtures_are_not_written_at_import(rel):
    called = _import_time_calls(ast.parse((PKG / rel).read_text()))
    assert "fixture" not in called, f"{rel} writes a media fixture at import"
    if rel == "functions/udfs.py":
        assert "fixture_path" in called  # the oracles embed static paths


def test_no_placeholder_fixture_paths_remain():
    hits = [
        str(p.relative_to(PKG)) for p in PKG.rglob("*.py")
        if "_unavailable.parquet" in p.read_text()
    ]
    assert hits == []
