"""Lake streaming-source contracts (VERDICT r10 item 1).

Two layers, two test surfaces:

- the OFFSET PROTOCOL lives in the simple-reader twins
  (streaming/lake_source.py) and is exercised here directly, no Spark
  query in the loop: initialOffset, one-committed-version-per-read,
  readBetweenOffsets checkpoint replay, remove-action refusal;
- the SCALE PATH lives in the one reader lake_source.lake_stream_source
  builds for the registry ops (stream_lake_tail / stream_lake_cdf /
  stream_lake_partition_tail, full DataSourceStreamReader): planning is
  pinned via the shared planner functions (one partition per commit
  file — fan-out > 1 proves executors see parallel work), and the
  executor-side read contract is pinned structurally here plus at
  RUNTIME by the planner-pid guard inside read() (rows served from the
  planner process raise, so every green sweep re-proves the property).
"""

from __future__ import annotations

import inspect
import json

import pytest

from tests.conftest import SF_SMOKE

REPO = None  # lake stores are built via the session spark fixture


@pytest.fixture(scope="module")
def append_store(spark):
    from hdfs_mr_spark.sources.lake import _store

    return _store(spark, SF_SMOKE, "append")


@pytest.fixture(scope="module")
def merge_store(spark):
    from hdfs_mr_spark.sources.lake import _merge_commit, _store

    return _store(spark, SF_SMOKE, "merge2",
                  extra=lambda tmp: _merge_commit(spark, tmp))


# ---------------------------------------------------------------- protocol


def test_tail_simple_offset_protocol(append_store):
    """One committed version per read(); offsets are lake versions."""
    from hdfs_mr_spark.streaming.lake_source import LakeTailSimpleReader

    r = LakeTailSimpleReader(str(append_store))
    assert r.initialOffset() == {"version": -1}
    off = r.initialOffset()
    seen = []
    for expect_v in (0, 1, 2):
        rows, off = r.read(off)
        rows = list(rows)
        assert off == {"version": expect_v}
        assert rows, f"version {expect_v} served no rows"
        seen.append(rows)
    # drained: read at head is empty and does not advance
    rows, off2 = r.read(off)
    assert list(rows) == [] and off2 == off


def test_tail_simple_replay_spans(append_store):
    """readBetweenOffsets((s, e]) == concat of the per-version reads —
    the checkpoint-recovery contract."""
    from hdfs_mr_spark.streaming.lake_source import LakeTailSimpleReader

    r = LakeTailSimpleReader(str(append_store))
    per_version, off = [], r.initialOffset()
    for _ in range(3):
        rows, off = r.read(off)
        per_version.append(sorted(rows))
    span = sorted(r.readBetweenOffsets({"version": -1}, {"version": 1}))
    assert span == sorted(per_version[0] + per_version[1])
    one = sorted(r.readBetweenOffsets({"version": 1}, {"version": 2}))
    assert one == per_version[2]


def test_tail_refuses_remove_versions(merge_store):
    """An append tail cannot represent data changes: stepping onto the
    COW merge commit must raise, not silently serve its adds."""
    from hdfs_mr_spark.streaming.lake_source import LakeTailSimpleReader

    r = LakeTailSimpleReader(str(merge_store))
    with pytest.raises(ValueError, match="remove-actions"):
        r.read({"version": 2})


def test_cdf_simple_serves_changes(merge_store):
    """The CDF twin steps the same offsets but serves row-level
    changes; the merge commit yields only update pairs (carried
    rewrites drop out), balanced pre/post."""
    from hdfs_mr_spark.streaming.lake_source import LakeCdfSimpleReader

    r = LakeCdfSimpleReader(str(merge_store))
    rows, off = r.read({"version": 2})
    rows = list(rows)
    assert off == {"version": 3}
    kinds = {t[0] for t in rows}
    assert kinds == {"update_preimage", "update_postimage"}
    pre = [t for t in rows if t[0] == "update_preimage"]
    post = [t for t in rows if t[0] == "update_postimage"]
    assert len(pre) == len(post) and len(pre) > 0
    assert all(t[3] == "1-URGENT" for t in post)
    assert all(t[3] != "1-URGENT" for t in pre)


# ------------------------------------------------------- partition planning


def test_tail_plan_fans_out_per_file(append_store):
    """Every append commit wrote 2 files => 2 partitions per version:
    the executor fan-out the full reader hands Spark."""
    from hdfs_mr_spark.streaming.lake_source import plan_tail_partitions

    for v in (0, 1, 2):
        parts = plan_tail_partitions(str(append_store), v - 1, v)
        assert len(parts) > 1, f"version {v} planned {len(parts)} partition"
        assert all(pv == v for pv, _ in parts)
    full = plan_tail_partitions(str(append_store), -1, 2)
    assert len(full) == 6


def test_cdf_plan_kinds(merge_store):
    """Appends plan insert-partitions per file; the COW merge plans one
    partition per recorded change-data sidecar (> 1 => the change feed
    itself is executor-parallel)."""
    from hdfs_mr_spark.streaming.lake_source import plan_cdf_partitions

    ins = plan_cdf_partitions(str(merge_store), -1, 2)
    assert len(ins) == 6 and {k for k, _, _ in ins} == {"insert"}
    cow = plan_cdf_partitions(str(merge_store), 2, 3)
    assert len(cow) > 1, "merge commit did not fan out"
    assert {k for k, _, _ in cow} == {"cdc"}
    assert all(rel.startswith("_change_data/") for _, _, rel in cow)


def test_cdf_plan_diff_fallback(tmp_path):
    """A remove-carrying commit whose writer recorded NO sidecars (the
    r10 log format) degrades to a single executor-side diff partition —
    never a silent drop."""
    from hdfs_mr_spark.streaming.lake_source import plan_cdf_partitions

    log = tmp_path / "_log"
    log.mkdir()
    (log / "v0000000000.json").write_text(json.dumps(
        {"add": ["data/a.parquet"], "remove": []}))
    (log / "v0000000001.json").write_text(json.dumps(
        {"add": ["data/b.parquet"], "remove": ["data/a.parquet"]}))
    parts = plan_cdf_partitions(str(tmp_path), -1, 1)
    assert parts == [("insert", 0, "data/a.parquet"), ("diff", 1, None)]


def test_cdc_sidecars_match_file_diff(merge_store):
    """The recorded change-data sidecars reproduce the pyarrow
    full-row diff row-for-row — the invariant that lets the streaming
    CDF serve sidecars while lake_change_feed diffs."""
    from hdfs_mr_spark.sources.lake import version_changes

    a = sorted(version_changes(merge_store, 3, use_cdc=True))
    b = sorted(version_changes(merge_store, 3, use_cdc=False))
    assert a == b and len(a) > 0


# ------------------------------------------------- executor-read contract


def _op_source(name: str) -> str:
    from hdfs_mr_spark.registry import all_specs

    return inspect.getsource(all_specs()[name].fn)


@pytest.mark.parametrize(
    "op",
    ["stream_lake_tail", "stream_lake_cdf", "stream_lake_partition_tail"],
)
def test_full_reader_not_driver_pump(op):
    """Structural pin of VERDICT r10 item 1: every lake streaming op
    registers the source lake_stream_source builds — a full
    streamReader (partition-planned, executor reads), never the
    simpleStreamReader driver pump — whose read() carries the
    planner-pid guard that turns any driver-routed row into a hard
    runtime failure (so the dual-SF sweeps re-prove the property on
    every run)."""
    from hdfs_mr_spark.streaming.lake_source import lake_stream_source

    assert "lake_stream_source(" in _op_source(op)
    src = inspect.getsource(lake_stream_source)
    assert "def streamReader(self, schema):" in src
    assert "def simpleStreamReader" not in src
    assert "DataSourceStreamReader" in src
    assert "partition.planner_pid" in src and "RuntimeError" in src
    assert "def partitions(self, start, end):" in src


def test_lake_stream_source_ships_by_value(tmp_path):
    """The source lake_stream_source builds unpickles and plans in a
    process that cannot import the package (the source runner's and
    the executors' situation), and its read() refuses to serve rows in
    the process that planned them."""
    import os
    import subprocess
    import sys

    from pyspark import cloudpickle

    from hdfs_mr_spark.sources.lake import _commit_or_raise
    from hdfs_mr_spark.streaming.lake_source import lake_stream_source

    store = tmp_path / "store"
    _commit_or_raise(store, 0, {"add": ["data/a.parquet"], "remove": []})
    _commit_or_raise(store, 1, {"add": ["data/b.parquet"], "remove": []})
    blob = tmp_path / "source.pkl"
    blob.write_bytes(cloudpickle.dumps(lake_stream_source(
        "hmr_probe_tail", "id bigint", "plan_tail_partitions",
        "read_added_file")))
    probe = f"""
import pickle, sys
assert not any("hdfs_mr_spark" in m for m in sys.modules)
cls = pickle.loads(open({str(blob)!r}, "rb").read())
reader = cls({{"path": {str(store)!r}}}).streamReader(None)
end = reader.latestOffset()
parts = reader.partitions(reader.initialOffset(), end)
print(end, [p.unit for p in parts])
try:
    list(reader.read(parts[0]))
except RuntimeError as exc:
    print("refused:", exc)
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([sys.executable, "-c", probe], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=120)
    assert out.returncode == 0, out.stderr
    lines = out.stdout.splitlines()
    assert lines[0] == ("{'version': 1} "
                        "[(0, 'data/a.parquet'), (1, 'data/b.parquet')]")
    assert lines[1].startswith("refused: hmr_probe_tail rows routed")


def test_tail_plan_partition_filter(spark, append_store):
    """r11: the partition-filtered tail plan skips non-matching files
    from commit-log metadata alone (2 of 14 on the hive store) and
    conservatively keeps files with NO recorded partitionValues (the
    legacy append store plans ALL its files under any filter)."""
    from hdfs_mr_spark.sources.lake import (_build_partitioned_store,
                                            _publish_store)
    from hdfs_mr_spark.sources.scans import _fixture_dir
    from hdfs_mr_spark.streaming.lake_source import plan_tail_partitions

    part_store = _publish_store(
        lambda tmp: _build_partitioned_store(spark, SF_SMOKE, tmp),
        _fixture_dir(SF_SMOKE) / "lake_part",
    )
    full = plan_tail_partitions(str(part_store), -1, 6)
    only97 = plan_tail_partitions(str(part_store), -1, 6,
                                  "o_year", "1997")
    assert len(full) == 14 and len(only97) == 2
    assert all("o_year=1997" in f for _, f in only97)
    # conservative keep: bare-path adds carry no partitionValues
    legacy = plan_tail_partitions(str(append_store), -1, 2,
                                  "o_year", "1997")
    assert len(legacy) == len(plan_tail_partitions(str(append_store), -1, 2))


def test_tail_restart_no_redelivery(spark, append_store, tmp_path):
    """Checkpoint-RESTART contract (r11 ADVICE, medium): a fresh reader
    resuming from an existing checkpoint must not re-deliver committed
    versions. latestOffset is now SOURCE-INTRINSIC (newest committed
    lake version — monotone because versions only grow), so the
    restarted query's first announcement can never fall behind the
    checkpoint; the r11 cursor-walk reader re-announced version 0
    after a restart, writing a BACKWARDS offset into the log whose
    next span re-planned versions 1-2 into the recovered aggregate.

    Scenario: run 1 drains versions 0-2 and checkpoints; a new commit
    lands (re-adding v0's first file — immutable files make a
    duplicate add a legal commit with a known row count); run 2 reuses
    the SAME checkpoint. Expected: per-status counts grow by exactly
    the re-added file's rows — any re-delivery overshoots."""
    import collections
    import shutil as _sh

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from hdfs_mr_spark.sources.lake import _commit, version_adds
    from hdfs_mr_spark.streaming.queries import stream_lake_tail

    stream_lake_tail(spark, SF_SMOKE)  # registers hmr_lake_tail
    store = tmp_path / "store"
    _sh.copytree(append_store, store)
    ckpt = str(tmp_path / "ckpt")

    def run(name):
        q = (
            spark.readStream.format("hmr_lake_tail")
            .option("path", str(store))
            .load()
            .groupBy("o_orderstatus").agg(F.count("*").alias("n"))
            .writeStream.outputMode("complete").format("memory")
            .queryName(name).option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return {r["o_orderstatus"]: r["n"]
                for r in spark.table(name).collect()}

    base = run("hmr_restart_a")
    assert sum(base.values()) > 0
    readd = version_adds(store, 0)[0]
    assert _commit(store, 3, {"add": [readd], "remove": []})
    after = run("hmr_restart_b")
    delta = collections.Counter(
        pq.read_table(store / readd, columns=["o_orderstatus"])
        .column(0).to_pylist()
    )
    want = {k: base.get(k, 0) + delta.get(k, 0)
            for k in set(base) | set(delta)}
    assert after == want, f"re-delivery after restart: {after} != {want}"
    # r13 (VERDICT r12 item 8): the two runs left a MULTI-BATCH offset
    # log (run 1 drained versions 0-2, run 2 drained version 3 as its
    # own batch); the measured drained-version count must read across
    # ALL committed offset files, not just the newest one's last line
    from hdfs_mr_spark.streaming.queries import _ckpt_drained_versions

    assert _ckpt_drained_versions(ckpt) == 4


def test_ckpt_drained_versions_multifile(tmp_path):
    """_ckpt_drained_versions (r13 rebuild): robust to multi-file,
    purged, and compacted offset logs — every committed batch's file
    contributes, `N.compact` names parse, uncommitted batches and the
    v1/metadata header lines are ignored, and the result is the MAX
    version cursor + 1 regardless of which file carries it."""
    from hdfs_mr_spark.streaming.queries import _ckpt_drained_versions

    offs = tmp_path / "offsets"
    commits = tmp_path / "commits"
    offs.mkdir()
    commits.mkdir()

    def write(name, version):
        (offs / name).write_text(
            "v1\n"
            '{"batchWatermarkMs":0,"batchTimestampMs":1,"conf":{}}\n'
            f'{{"version": {version}}}\n'
        )

    write("0", 1)
    write("1.compact", 2)          # compacted name form
    write("2", 5)
    write("3", 9)                  # NOT committed -> must not count
    for b in ("0", "1.compact", "2"):
        (commits / b).write_text("v1\n{}")
    assert _ckpt_drained_versions(str(tmp_path)) == 6
    # purged early files: only the newest committed batch remains
    (offs / "0").unlink()
    (offs / "1.compact").unlink()
    assert _ckpt_drained_versions(str(tmp_path)) == 6
