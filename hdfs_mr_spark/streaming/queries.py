"""Structured Streaming operators (SURVEY.md §2.10 + §2.1 scan_stream).

The events table doubles as a bounded stream: readStream over a
directory of time-ordered parquet splits, trigger(availableNow=True)
with maxFilesPerTrigger=1 drains it across REAL multiple micro-batches
(state carries between batches — the HDFS-ingest shape), and a
memory/parquet sink materializes the result for the oracle. Every
streaming query has deterministic final-state semantics (complete-mode
windowed aggregates, keyed dedup of already-unique keys, stream-static
joins), so most get a full hash-check against a batch-twin oracle —
stronger than the ⚠ rows-only floor SURVEY assigns them.
Watermark-dependent append output stays deterministic because the
splits are sorted by (ts, event_id): event time only moves forward, the
final watermark lands at max(ts) - delay, and the union of per-batch
emissions equals the sealed-window set the oracle replays. Checked sums
route through the single-rounding decimal kernel (exprs.dsum) like the
batch aggregates.

Every bounded drain runs through one harness, ``_drain``: it names the
query from one counter, pins the session conf the site asks for
(``_SHUFFLE8``, ``_ROCKS_CONF``) and restores it, starts the query and
waits for it, stops it in every case, and for a memory sink resolves
the result table and drops its temp view. A drain that does not finish
within its timeout raises ``StreamDrainTimeout`` (query name and
micro-batches completed) instead of returning a partial sink. Temp
space comes from ``_drain_root``: one ``hmr_*`` dir under the system
temp dir, with checkpoints and sinks as subpaths, removed when the
``with`` exits — so a sink read back from it is materialized inside.

State at scale: windows/dedup keys live in the executor StateStore;
watermarks bound that state. Session windows use the native
session_window operator (no custom state handler needed).
"""

from __future__ import annotations

import itertools
import shutil
import tempfile
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hdfs_mr_spark.exprs import dsum
from hdfs_mr_spark.registry import query

_FAM = "2.10 streaming"

_COUNTER = itertools.count()


def _ckpt_drained_versions(ckpt: str) -> int:
    """MEASURED drained-version count from a finished streaming query's
    CHECKPOINT (ADVICE r11: the lake-tail ops' ``versions_drained``
    column was a driver-computed constant that could not fail if the
    offset walk stalled — this derives it from the offset log Spark
    itself committed, so a stalled or short walk yields a different
    number and the DuckDB oracle catches it).

    Robust across MULTI-FILE and PURGED/COMPACTED offset logs (VERDICT
    r12 residual nit: the old form parsed only the single newest file's
    last line): every committed batch's offset file is scanned — plain
    integer names and ``N.compact`` forms alike — and every source-
    offset JSON line containing a ``version`` cursor contributes; the
    drained count is the MAX cursor seen + 1 (lake versions are
    0-based), which is invariant to how Spark split or retained the
    log."""
    import json as _json

    offs = Path(ckpt) / "offsets"
    commits = Path(ckpt) / "commits"

    def batch_id(name: str) -> int | None:
        stem = name[:-len(".compact")] if name.endswith(".compact") else name
        return int(stem) if stem.isdigit() else None

    committed = {
        batch_id(p.name)
        for p in commits.iterdir()
    } if commits.exists() else set()
    best = -1
    for p in offs.iterdir():
        b = batch_id(p.name)
        if b is None or b not in committed:
            continue
        for line in p.read_text().splitlines():
            line = line.strip()
            if not line.startswith("{"):
                continue
            try:
                obj = _json.loads(line)
            except ValueError:
                continue
            if isinstance(obj, dict) and "version" in obj:
                best = max(best, int(obj["version"]))
    return best + 1

# per-phase wall times from the LAST stream_dedup_lsh_absorb drain run
# with spark.hdfs_mr.absorb.profile=true (batch_id, phase, sec)
ABSORB_PROFILE: list = []

def _events_ts_kind(sf_dir: str) -> str:
    """Probe the parquet physical type of events.ts WITHOUT a Spark job.

    The batch reader (io.table) dispatches on what Spark inferred; a
    readStream needs the schema up front, so we ask pyarrow directly.
    Three shapes exist in the wild: TIMESTAMP(NANOS) (only readable as a
    nanos long via the legacy conf), TIMESTAMP(MICROS, adjusted=false)
    (Spark 4 reads it as TIMESTAMP_NTZ), and TIMESTAMP(MICROS,
    adjusted=true) (plain TIMESTAMP). Hard-coding any one of them is how
    round 2 silently broke every windowed stream."""
    import pyarrow.parquet as pq

    t = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
    if t.unit == "ns":
        return "nanos"
    return "micros_ltz" if t.tz is not None else "micros_ntz"


def _events_schema(kind: str) -> T.StructType:
    ts_type = {
        "nanos": T.LongType(),  # via spark.sql.legacy.parquet.nanosAsLong
        "micros_ntz": T.TimestampNTZType(),
        "micros_ltz": T.TimestampType(),
    }[kind]
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


_N_STREAM_FILES = 4


def _stream_src_dir(sf_dir: str, multi: bool = True) -> str:
    """FileStreamSource wants a directory of arriving files.

    multi=True (default): events split into _N_STREAM_FILES time-ordered
    parquet files (content-fingerprinted fixture dir), so an availableNow
    drain with maxFilesPerTrigger=1 runs REAL multiple micro-batches and
    state genuinely carries across them — the HDFS-ingest shape. The
    split is sorted by (ts, event_id), so event time only moves forward
    across batches and watermark semantics match the single-batch run.

    multi=False: the read-only single testdata file through a symlink —
    for the two queries whose per-batch emission (append-mode running
    state, update-mode deltas) is only oracle-exact as a single batch."""
    import os
    from pathlib import Path

    from hdfs_mr_spark.sources.scans import _fixture_dir

    if not multi:
        d = Path("/tmp/hmr_stream_src") / Path(sf_dir).name / "events"
        d.mkdir(parents=True, exist_ok=True)
        link = d / "events.parquet"
        if not link.exists():
            os.symlink(f"{sf_dir}/events.parquet", link)
        return str(d)

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    d = _fixture_dir(sf_dir) / "events_stream"
    done = d / "_SPLIT_DONE"
    if not done.exists():
        d.mkdir(parents=True, exist_ok=True)
        t = pq.read_table(f"{sf_dir}/events.parquet")
        t = t.take(
            pc.sort_indices(
                t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
            )
        )
        step = -(-t.num_rows // _N_STREAM_FILES)
        import os as _os
        import time as _time

        now = _time.time()
        for i in range(_N_STREAM_FILES):
            part = t.slice(i * step, step)
            if part.num_rows:
                # FileStreamSource picks files up in mtime order; a tight
                # write loop can land identical timestamps at fs
                # granularity, scrambling micro-batch order (semantics
                # for watermark-append queries) — pin strictly
                # increasing mtimes a minute apart
                pth = d / f"events_{i:03d}.parquet"
                pq.write_table(part, pth)
                _os.utime(pth, (now - 60 * (_N_STREAM_FILES - i),) * 2)
        done.touch()
    return str(d)


def _event_stream(spark, sf_dir, multi: bool = True):
    """readStream over events with the SAME type dispatch as io.table:
    nanos-long -> timestamp_micros(div 1000); micros-NTZ -> instant-
    preserving cast under the pinned UTC session; micros-LTZ as-is."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    kind = _events_ts_kind(sf_dir)
    if kind == "nanos":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(_events_schema(kind))
    if multi:
        reader = reader.option("maxFilesPerTrigger", 1)
    raw = reader.parquet(_stream_src_dir(sf_dir, multi))
    if kind == "nanos":
        return raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if kind == "micros_ntz":
        return raw.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return raw


# state-store partition count is pinned to the shuffle-partition conf at
# a stream's FIRST run; per-partition store open/commit dominates these
# bounded drains (fixture state is tiny), so they run with 8 shuffle
# partitions — measured ~2x on the stream-stream join. On a real cluster
# this knob is sized to state volume, not overhead.
_SHUFFLE8 = {"spark.sql.shuffle.partitions": "8"}
_ROCKS_CONF = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb."
    "changelogCheckpointing.enabled": "true",
    **_SHUFFLE8,
}


class StreamDrainTimeout(RuntimeError):
    """A bounded drain did not finish within its timeout; the query was
    stopped."""

    def __init__(self, query: str, batches: int, timeout: float):
        super().__init__(
            f"stream drain {query} did not finish within {timeout} s "
            f"({batches} micro-batches completed)"
        )
        self.query = query


@dataclass(frozen=True)
class Drain:
    name: str
    progress: list  # q.recentProgress
    table: object = None  # memory sink only: the resolved DataFrame


@contextmanager
def _drain_root(prefix: str = "hmr_drain_"):
    """One temp dir for a drain's checkpoint and sink subpaths, removed
    when the ``with`` exits (also on error)."""
    root = Path(tempfile.mkdtemp(prefix=prefix))
    try:
        yield root
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _drain(writer, ckpt=None, *, conf=None, timeout=300,
           all_available=False) -> Drain:
    """Run the bounded stream behind ``writer`` (a DataStreamWriter with
    its sink set) to completion.

    ``ckpt`` is the checkpoint path, a subpath of a ``_drain_root`` the
    caller holds when a sink or a restart outlives this drain; by
    default the checkpoint lives in a private root removed on return.
    ``conf`` is applied for the drain and restored after it. The drain
    triggers availableNow and waits ``timeout`` seconds; on timeout it
    stops the query and raises StreamDrainTimeout. ``all_available``
    keeps the default trigger and waits with processAllAvailable()
    instead — a SimpleDataSourceStreamReader drains only its first
    micro-batch under availableNow. A memory sink's view is resolved
    into ``Drain.table`` and dropped, so no drain leaves a view behind."""
    if ckpt is None:
        with _drain_root() as root:
            return _drain(writer, root / "ckpt", conf=conf, timeout=timeout,
                          all_available=all_available)
    spark = writer._spark
    name = f"hmr_stream_{next(_COUNTER)}"
    conf = conf or {}
    prev = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        writer = writer.queryName(name).option("checkpointLocation", str(ckpt))
        if not all_available:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        try:
            if all_available:
                q.processAllAvailable()
            elif not q.awaitTermination(timeout):
                batches = len({p["batchId"] for p in q.recentProgress})
                raise StreamDrainTimeout(name, batches, timeout)
            progress = list(q.recentProgress)
        finally:
            q.stop()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    table = None
    if spark.catalog.tableExists(name):
        table = spark.table(name)
        spark.catalog.dropTempView(name)
    return Drain(name, progress, table)


@query(
    "scan_stream",
    oracle="""
SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value
FROM events
""",
    family="2.1 scans/sources/sinks",
)
def scan_stream(spark, sf_dir):
    """Bounded stream scan of events (block-at-a-time reader analogue):
    readStream -> availableNow drain -> full content check against the
    batch table."""
    s = _event_stream(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    return _drain(
        s.writeStream.format("memory").outputMode("append"),
        conf=_SHUFFLE8,
    ).table


@query(
    "stream_tumbling",
    oracle="""
SELECT CAST(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
         AS window_start,
       event_type,
       COUNT(*) AS n,
       (CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) * 100000000 AS DECIMAL(38,0)) AS DOUBLE) / 100000000.0) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
    family=_FAM,
)
def stream_tumbling(spark, sf_dir):
    """Tumbling 1-hour windowed count/sum per event type (complete mode —
    final state is deterministic, so fully hash-checked)."""
    s = _event_stream(spark, sf_dir)
    agg = (
        s.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n", "total_value"
        )
    )
    return _drain(
        agg.writeStream.format("memory").outputMode("complete"),
        conf=_SHUFFLE8,
    ).table.orderBy("window_start", "event_type")


@query(
    "stream_sliding",
    oracle="""
WITH slots AS (
  SELECT CAST(time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
           - k.k * INTERVAL '15 minutes' AS window_start,
         event_type
  FROM events, (SELECT unnest(range(0, 4)) AS k) k
)
SELECT window_start, event_type, COUNT(*) AS n
FROM slots
GROUP BY 1, 2
ORDER BY 1, 2
""",
    family=_FAM,
)
def stream_sliding(spark, sf_dir):
    """Sliding window 1 hour every 15 minutes — each event lands in 4
    overlapping windows; the oracle unrolls the same 4 covering slots."""
    s = _event_stream(spark, sf_dir)
    agg = (
        s.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    return _drain(
        agg.writeStream.format("memory").outputMode("complete"),
        conf=_SHUFFLE8,
    ).table.orderBy("window_start", "event_type")


@query(
    "stream_session",
    oracle="""
WITH flagged AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(ts AS TIMESTAMP)
                   >= lag(CAST(ts AS TIMESTAMP)) OVER w + INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
sessions AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '30 minutes' AS session_end,
       COUNT(*) AS n_events,
       (CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) * 100000000 AS DECIMAL(38,0)) AS DOUBLE) / 100000000.0) AS total_value
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_start
""",
    family=_FAM,
)
def stream_session(spark, sf_dir):
    """Session windows (30-minute gap) per user via the native
    session_window operator; the oracle is the classic gaps-and-islands
    SQL (session end = last event + gap, matching Spark's semantics)."""
    s = _event_stream(spark, sf_dir)
    agg = (
        s.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    return _drain(
        agg.writeStream.format("memory").outputMode("complete"),
        conf=_SHUFFLE8,
    ).table.orderBy("user_id", "session_start")


@query(
    "stream_watermark_late",
    oracle="""
WITH mx AS (
  SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 10 MINUTE AS wm FROM events
)
SELECT CAST(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
         AS window_start,
       event_type, COUNT(*) AS n
FROM events, mx
WHERE time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR
        <= mx.wm
GROUP BY 1, 2
ORDER BY 1, 2
""",
    family=_FAM,
)
def stream_watermark_late(spark, sf_dir):
    """Tumbling agg in append mode behind a 10-minute watermark: only
    windows the watermark has sealed are emitted. Arrival order IS
    deterministic here — the bounded availableNow drain reads the single
    source file as one batch, so the final watermark lands at
    max(ts) - 10min and the emitted set is exactly the windows whose end
    the watermark passed. The oracle replays that rule in batch SQL,
    upgrading the old rows-only check to a full hash-check of the
    watermark semantics themselves."""
    s = _event_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    return _drain(
        agg.writeStream.format("memory").outputMode("append"),
        conf=_SHUFFLE8,
    ).table.orderBy("window_start", "event_type")


@query(
    "stream_dedup",
    oracle="""
SELECT event_id, event_type, user_id FROM events
""",
    family=_FAM,
)
def stream_dedup(spark, sf_dir):
    """Stateful streaming dedup on event_id within a watermark
    (dropDuplicates over keyed state). event_id is unique in the
    fixture, so the deduped stream equals the input — which is exactly
    what the oracle asserts (idempotence of dedup on unique keys)."""
    s = _event_stream(spark, sf_dir)
    deduped = (
        s.withWatermark("ts", "10 minutes")
        .dropDuplicates(["event_id"])
        .select("event_id", "event_type", "user_id")
    )
    return _drain(
        deduped.writeStream.format("memory").outputMode("append"),
        conf=_SHUFFLE8,
    ).table


@query(
    "stream_static_join",
    oracle="""
SELECT event_id, e.user_id, event_type, c_name, c_mktsegment
FROM events e JOIN customer c ON e.user_id = c.c_custkey
""",
    family=_FAM,
)
def stream_static_join(spark, sf_dir):
    """Stream-static enrichment join: the static customer dim is joined
    to each micro-batch (broadcast — no stream-side shuffle)."""
    from hdfs_mr_spark.io import table

    s = _event_stream(spark, sf_dir)
    c = table(spark, sf_dir, "customer")
    joined = s.join(
        F.broadcast(c), s.user_id == c.c_custkey
    ).select("event_id", "user_id", "event_type", "c_name", "c_mktsegment")
    return _drain(
        joined.writeStream.format("memory").outputMode("append"),
        conf=_SHUFFLE8,
    ).table


@query(
    "stream_foreachbatch",
    oracle="""
SELECT event_type, COUNT(*) AS n,
       (CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) * 100000000 AS DECIMAL(38,0)) AS DOUBLE) / 100000000.0) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    family=_FAM,
)
def stream_foreachbatch(spark, sf_dir):
    """Micro-batch sink via foreachBatch -> parquet, then re-read and
    aggregate: proves the custom-sink path loses nothing (the re-read
    aggregate hash-matches the batch oracle). The sink dir exists up
    front and is read back with the stream's schema, so a drain of zero
    micro-batches reads as an empty table."""
    s = _event_stream(spark, sf_dir).select("event_id", "event_type", "value")
    with _drain_root("hmr_fb_") as root:
        out = root / "out"
        out.mkdir()

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(str(out))

        _drain(s.writeStream.foreachBatch(sink), root / "ckpt")
        return (
            spark.read.schema(s.schema).parquet(str(out))
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                dsum(F.col("value")).alias("total_value"),
            )
            .orderBy("event_type")
            .localCheckpoint()  # materialize before the sink dir is removed
        )


@query(
    "stream_stateful_custom",
    oracle="""
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       (CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) * 100000000 AS DECIMAL(38,0)) AS DOUBLE) / 100000000.0) AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
""",
    family=_FAM,
)
def stream_stateful_custom(spark, sf_dir):
    """Custom stateful operator via applyInPandasWithState: per-user
    running (count, integer-cents sum) kept in executor state across
    micro-batches, one emitted row per user per batch. This query reads
    the single-file source (multi=False): a one-batch drain makes the
    append-mode emission equal the final state — which is
    why the oracle can hash-check a *custom* stateful operator (SURVEY
    §2.10: the weaker rows-only floor is beaten here too). Integer-cents
    state keeps the float sum exact and order-independent, matching the
    oracle's decimal sum bit-for-bit."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(key, pdfs, state: GroupState):
        cnt, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            v = pdf["value"]
            cnt += len(v)
            # half-away-from-zero cents matching the oracle's
            # round(value*100); Series.round is banker's and would
            # diverge on an exact-half fixture value (the ADVICE r14
            # hazard class, fixed for session_timeout the same way)
            import numpy as np

            x = (v * 100.0).to_numpy()
            cents += int(
                np.where(x >= 0, np.floor(x + 0.5), -np.floor(-x + 0.5))
                .astype("int64").sum()
            )
        state.update((cnt, cents))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [cnt],
                "total_value": [cents / 100.0],
            }
        )

    s = _event_stream(spark, sf_dir, multi=False).select("user_id", "ts", "value")
    out = (
        s.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="cnt long, cents long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _drain(
        out.writeStream.format("memory").outputMode("append"),
        conf=_SHUFFLE8,
    ).table.orderBy("user_id")


@query(
    "stream_stream_join",
    oracle="""
SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id,
       CAST(p.ts AS TIMESTAMP) AS purchase_ts,
       CAST(v.ts AS TIMESTAMP) AS view_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND CAST(v.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
 AND CAST(v.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
ORDER BY purchase_id, view_id
""",
    family=_FAM,
)
def stream_stream_join(spark, sf_dir):
    """Stream-stream inner join: the purchases stream joined to the views
    stream on user with a 30-minute event-time bound, watermarks on both
    sides. The time constraint is what lets Structured Streaming expire
    buffered rows from the state store (without it, both sides' state
    grows forever); inner-join emission is watermark-independent, so the
    availableNow drain yields exactly the batch interval-join — fully
    hash-checked. At 100 TB this is the clickstream attribution shape:
    state bounded to the watermark horizon, shuffle keyed on user."""
    p = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    v = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("view_ts") <= F.col("purchase_ts")),
    ).select("purchase_id", "view_id", "user_id", "purchase_ts", "view_ts")
    return _drain(
        joined.writeStream.format("memory").outputMode("append"),
        conf=_SHUFFLE8,
    ).table.orderBy("purchase_id", "view_id")


@query(
    "stream_update_mode",
    oracle="""
SELECT CAST(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
         AS window_start,
       event_type, COUNT(*) AS n
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
    family=_FAM,
)
def stream_update_mode(spark, sf_dir):
    """Update output mode — the third of the three streaming output
    modes (append/complete covered elsewhere): each micro-batch emits
    only the rows whose aggregate changed. Reads the single-file source
    (multi=False): a one-batch drain emits every touched key exactly
    once, so the update stream equals the complete-mode final state —
    which the batch oracle hash-checks."""
    s = _event_stream(spark, sf_dir, multi=False)
    agg = (
        s.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n")
    )
    return _drain(
        agg.writeStream.format("memory").outputMode("update"),
        conf=_SHUFFLE8,
    ).table.orderBy("window_start", "event_type")


def _event_halves(sf_dir: str):
    """Split events.parquet into two half files under the fixture dir
    (pyarrow slice, written once per content fingerprint) — the
    arriving-files fixture for the incremental-restart proof."""
    import pyarrow.parquet as pq

    from hdfs_mr_spark.sources.scans import _fixture_dir

    d = _fixture_dir(sf_dir)
    h1, h2 = d / "events_h1.parquet", d / "events_h2.parquet"
    if not (h1.exists() and h2.exists()):
        t = pq.read_table(f"{sf_dir}/events.parquet")
        mid = t.num_rows // 2
        pq.write_table(t.slice(0, mid), h1)
        pq.write_table(t.slice(mid), h2)
    return str(h1), str(h2)


@query(
    "stream_incremental_restart",
    oracle="""
SELECT event_type, COUNT(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    family=_FAM,
)
def stream_incremental_restart(spark, sf_dir):
    """Checkpointed incremental processing across a query RESTART — the
    property that makes streaming pipelines production-viable: drain
    half the files, stop, add the other half, start a NEW query on the
    SAME checkpoint. The restarted query reads only the new file (source
    offsets come from the checkpoint) yet its complete-mode output
    covers ALL data (aggregate state comes from the state store) — which
    is exactly what the all-events batch oracle asserts. At 100 TB this
    is the daily-ingest shape: each run pays only for new partitions."""
    h1, h2 = _event_halves(sf_dir)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    kind = _events_ts_kind(sf_dir)
    if kind == "nanos":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    with _drain_root("hmr_incr_") as root:
        src = root / "src"
        src.mkdir()

        def drain():
            raw = spark.readStream.schema(_events_schema(kind)).parquet(str(src))
            agg = raw.groupBy("event_type").agg(F.count("*").alias("n"))
            return _drain(
                agg.writeStream.format("memory").outputMode("complete"),
                root / "ckpt", conf=_SHUFFLE8,
            ).table

        shutil.copy(h1, src / "h1.parquet")
        drain()  # first run: half the data, state persisted to the checkpoint
        shutil.copy(h2, src / "h2.parquet")
        # restart: reads ONLY h2, emits state over h1+h2
        return drain().orderBy("event_type")


@query(
    "stream_chained_agg",
    oracle="""
WITH mx AS (
  SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 10 MINUTE AS wm FROM events
),
q AS (
  SELECT CAST(time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
              AS TIMESTAMP) AS qstart,
         COUNT(*) AS n
  FROM events GROUP BY 1
)
SELECT CAST(time_bucket(INTERVAL '1 hour', qstart) AS TIMESTAMP) AS hour_start,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_active_quarters,
       CAST(MAX(n) AS BIGINT) AS peak_quarter_events
FROM q, mx
WHERE time_bucket(INTERVAL '1 hour', qstart) + INTERVAL 1 HOUR <= mx.wm
GROUP BY 1
ORDER BY 1
""",
    family=_FAM,
)
def stream_chained_agg(spark, sf_dir):
    """CHAINED stateful streaming aggregations (Spark 3.5+/4.x multiple-
    stateful-operator support): 15-minute tumbling counts re-aggregated
    into hourly rollups (total, active quarters, peak quarter) inside
    ONE streaming query — two state stores, the outer keyed on
    window_time() of the inner's window. The pre-1.5 workaround was two
    queries with an intermediate sink; chaining removes the double
    persistence, which at 100 TB/day of events is the difference
    between one and two full materializations of the stream.

    Determinism: single-batch availableNow drain => final watermark =
    max(ts) - 10min; a sealed hour seals all four of its quarters, so
    the emitted set is exactly the hours whose end the watermark passed
    — replayed relationally by the two-level batch twin."""
    s = _event_stream(spark, sf_dir)
    quarter = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes"))
        .agg(F.count("*").alias("n"))
    )
    hourly = (
        quarter.groupBy(F.window(F.window_time("window"), "1 hour"))
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.count("*").cast("bigint").alias("n_active_quarters"),
            F.max("n").cast("bigint").alias("peak_quarter_events"),
        )
        .select(
            F.col("window.start").alias("hour_start"),
            "n_events", "n_active_quarters", "peak_quarter_events",
        )
    )
    return _drain(
        hourly.writeStream.format("memory").outputMode("append"),
        conf=_SHUFFLE8,
    ).table.orderBy("hour_start")


@query(
    "stream_exactly_once_sink",
    oracle="""
SELECT event_type, COUNT(*) AS n,
       (CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) * 100000000 AS DECIMAL(38,0)) AS DOUBLE) / 100000000.0) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    family=_FAM,
)
def stream_exactly_once_sink(spark, sf_dir):
    """Exactly-once file sink under RE-RUN: the multi-batch stream
    drains into a parquet sink with a checkpoint, then the SAME query
    (same checkpoint, same sink) is started a second time. The file
    sink's transaction log (_spark_metadata) + source offsets in the
    checkpoint mean the rerun commits NOTHING — re-reading the sink
    aggregates to exactly the batch answer, not double it. This is the
    idempotent-daily-job property that makes streaming pipelines safe
    to retry at 100 TB: a failed orchestrator can always just run the
    job again. (foreachBatch, by contrast, is at-least-once unless the
    user dedupes — covered by stream_foreachbatch.)"""
    with _drain_root("hmr_eo_") as root:
        out = str(root / "out")

        def drain():
            s = _event_stream(spark, sf_dir).select("event_id", "event_type", "value")
            _drain(s.writeStream.format("parquet").option("path", out),
                   root / "ckpt")

        drain()
        drain()  # rerun with the same checkpoint: must commit zero new rows
        return (
            spark.read.parquet(out)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                dsum(F.col("value")).alias("total_value"),
            )
            .orderBy("event_type")
            .localCheckpoint()  # materialize before the sink dir is removed
        )


@query(
    "stream_stream_left_outer",
    oracle="""
WITH mx AS (
  SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 3 HOUR AS seal FROM events
)
SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id,
       CAST(p.ts AS TIMESTAMP) AS purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND CAST(v.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 30 MINUTE
 AND CAST(v.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
CROSS JOIN mx
WHERE CAST(p.ts AS TIMESTAMP) < mx.seal
ORDER BY purchase_id, view_id
""",
    family=_FAM,
)
def stream_stream_left_outer(spark, sf_dir):
    """Stream-stream LEFT OUTER join — the attribution shape where
    purchases WITHOUT a preceding view must also surface (null-extended)
    so unattributed conversions are visible. Null rows can only be
    emitted when the state store evicts the left row, i.e. when the
    watermark proves no matching view can still arrive — so the
    stream's tail is incomplete BY DESIGN: a purchase near max(ts) sits
    in state forever (its null row would be wrong to emit). The exact
    eviction instant also shifts with micro-batch boundaries (measured:
    the last ~1.5-2 h of purchases may or may not have flushed,
    batching-dependent), which is why a production consumer reads only
    the SEALED region. This query encodes that pattern: the drained
    result is filtered to purchase_ts < max(ts) - 3 h — comfortably
    past any eviction-margin variant (delay 1 h + condition bound
    30 min) — and over that region the stream equals the batch left
    join exactly, which the oracle hash-checks. Matched rows emit on
    match (watermark-independent), nulls on eviction; both land inside
    the seal."""
    p = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    v = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    joined = p.join(
        v,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("view_ts") <= F.col("purchase_ts")),
        "left_outer",
    ).select("purchase_id", "view_id", "user_id", "purchase_ts")
    drained = _drain(
        joined.writeStream.format("memory").outputMode("append"),
        conf=_SHUFFLE8,
    ).table
    from hdfs_mr_spark.io import table

    seal = (
        table(spark, sf_dir, "events")
        .agg((F.max("ts") - F.expr("INTERVAL 3 HOURS")).alias("seal"))
    )
    return (
        drained.crossJoin(F.broadcast(seal))
        .filter(F.col("purchase_ts") < F.col("seal"))
        .select("purchase_id", "view_id", "user_id", "purchase_ts")
        .orderBy("purchase_id", "view_id")
    )


@query(
    "stream_windowed_topk",
    oracle="""
WITH counts AS (
  SELECT CAST(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
           AS window_start,
         user_id, COUNT(*) AS n
  FROM events
  GROUP BY 1, 2
)
SELECT window_start, user_id, n,
       CAST(row_number() OVER (PARTITION BY window_start
                               ORDER BY n DESC, user_id ASC) AS INTEGER) AS rnk
FROM counts
QUALIFY rnk <= 3
ORDER BY window_start, rnk
""",
    family=_FAM,
)
def stream_windowed_topk(spark, sf_dir):
    """Streaming top-k: the 3 most active users of every tumbling hour.
    Rank-over-window isn't expressible INSIDE a streaming aggregation
    (no window functions on unbounded input), so this is the canonical
    two-stage serving pattern: the stream maintains the per-(window,
    user) counts incrementally (complete-mode state store — the only
    state that must persist), and the bounded top-k rank runs as a
    BATCH query over the materialized sink each refresh. At 100 TB the
    streaming stage shuffles one counter per (window, user) and the
    rank stage touches only the sink table — never the raw stream; ties
    break deterministically by user_id."""
    s = _event_stream(spark, sf_dir)
    counts = (
        s.groupBy(F.window("ts", "1 hour"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("window_start"), "user_id", "n")
    )
    sink = _drain(
        counts.writeStream.format("memory").outputMode("complete"),
        conf=_SHUFFLE8,
    ).table
    w = Window.partitionBy("window_start").orderBy(
        F.col("n").desc(), F.col("user_id").asc()
    )
    return (
        sink.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .orderBy("window_start", "rnk")
    )


@query(
    "stream_cdc_upsert",
    oracle="""
WITH latest AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS last_ts,
         event_id AS last_event_id, value AS last_value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, last_ts, last_event_id, last_value
FROM latest WHERE rn = 1
ORDER BY user_id
""",
    family=_FAM,
)
def stream_cdc_upsert(spark, sf_dir):
    """Streaming keyed upsert — the foreachBatch MERGE pattern every
    lakehouse CDC consumer runs (Delta/Iceberg MERGE stand-in on plain
    parquet): each micro-batch merges into the keyed state table
    (latest row per user by (ts, event_id)), state versions are written
    to fresh directories so a batch never reads the files it is
    rewriting (the read-overwrite hazard the versioning exists to
    kill), and the final version IS the answer. Last-wins is a TOTAL
    order, so the result is independent of how the drain batches the
    files — which is exactly what the batch oracle hash-checks.

    Scale: per batch the merge is one combiner-shape argmax agg over
    (previous state ∪ batch) — state stays O(|keys|); at 100 TB the
    state table is partitioned by key-hash and each merge rewrites only
    partitions the batch touches (dynamic partition overwrite —
    sink_dynamic_overwrite demonstrates the primitive)."""
    latest_dir: dict[str, str | None] = {"path": None}
    s = _event_stream(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    with _drain_root("hmr_cdc_") as root:

        def merge(batch_df, batch_id):
            b = batch_df.select("user_id", "ts", "event_id", "value")
            prev = latest_dir["path"]
            if prev is not None:
                b = batch_df.sparkSession.read.parquet(prev).unionByName(b)
            merged = (
                b.groupBy("user_id")
                .agg(F.max(F.struct("ts", "event_id", "value")).alias("m"))
                .select(
                    "user_id",
                    F.col("m.ts").alias("ts"),
                    F.col("m.event_id").alias("event_id"),
                    F.col("m.value").alias("value"),
                )
            )
            new_dir = str(root / f"v{batch_id}")
            merged.write.mode("overwrite").parquet(new_dir)
            latest_dir["path"] = new_dir

        _drain(s.writeStream.foreachBatch(merge), root / "ckpt")
        if latest_dir["path"] is None:
            # zero micro-batches (empty source slice): the upsert state is
            # legitimately empty — emit the empty keyed frame, same schema
            return (
                s.sparkSession.createDataFrame(
                    [], "user_id bigint, last_ts timestamp, "
                        "last_event_id bigint, last_value double"
                )
            )
        return (
            spark.read.parquet(latest_dir["path"])
            .select(
                "user_id",
                F.col("ts").alias("last_ts"),
                F.col("event_id").alias("last_event_id"),
                F.col("value").alias("last_value"),
            )
            .orderBy("user_id")
            .localCheckpoint()
        )


@query(
    "stream_python_datasource",
    oracle="""
WITH g AS (
  SELECT range AS id, (range * 2654435761) % 1000000007 AS val
  FROM range(0, 1000)
)
SELECT CAST(id % 4 AS BIGINT) AS part,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(val) AS BIGINT) AS val_sum,
       CAST(MIN(val) AS BIGINT) AS val_min,
       CAST(MAX(val) AS BIGINT) AS val_max
FROM g GROUP BY part ORDER BY part
""",
    family=_FAM,
)
def stream_python_datasource(spark, sf_dir):
    """Custom STREAMING connector via Spark 4's Python Data Source
    simple-stream API — the streaming sibling of
    scan_python_datasource's custom InputFormat analogue: the source
    owns its offset protocol (initialOffset / read(start) -> (rows,
    next) / readBetweenOffsets for checkpoint replay), serves five
    deterministic 200-row micro-batches of the same Knuth-hash
    synthetics, then reports no-new-data so processAllAvailable
    reaches a fixed point. Consumed as a complete-mode windowless
    aggregate into the memory sink; the DuckDB twin regenerates the
    identical row set from range(), so the value hash proves no batch
    was lost, duplicated, or torn across the offset protocol.

    Scale: offsets are the connector's own cursor (a Kafka offset, a
    log LSN, a ledger sequence) — the pattern for streaming ingest
    from systems Spark has no native reader for; partition planning
    belongs to the full StreamReader API, the simple variant trades
    that for single-cursor simplicity (stated contract of the API)."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class SynthStreamReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"batch": 0}

        def read(self, start):
            b = start["batch"]
            if b >= 5:
                return iter([]), {"batch": b}
            rows = [
                (i, (i * 2654435761) % 1000000007)
                for i in range(b * 200, (b + 1) * 200)
            ]
            return iter(rows), {"batch": b + 1}

        def readBetweenOffsets(self, start, end):
            rows = []
            for b in range(start["batch"], end["batch"]):
                rows.extend(
                    (i, (i * 2654435761) % 1000000007)
                    for i in range(b * 200, (b + 1) * 200)
                )
            return iter(rows)

    class SynthStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "hmr_synth_stream"

        def schema(self):
            return "id bigint, val bigint"

        def simpleStreamReader(self, schema):
            return SynthStreamReader()

    try:
        spark.dataSource.register(SynthStreamSource)
    except Exception as exc:
        # idempotent re-registration only — a genuine registration
        # failure (API absent, bad source class) must surface here,
        # not as an opaque not-found at load()
        if "exist" not in str(exc).lower() and "already" not in str(exc).lower():
            raise

    agg = (
        spark.readStream.format("hmr_synth_stream")
        .load()
        .groupBy((F.col("id") % 4).cast("bigint").alias("part"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("val").cast("bigint").alias("val_sum"),
            F.min("val").cast("bigint").alias("val_min"),
            F.max("val").cast("bigint").alias("val_max"),
        )
    )
    return _drain(
        agg.writeStream.outputMode("complete").format("memory"),
        all_available=True,
    ).table.orderBy("part").localCheckpoint()


def _media_stream_src(name: str) -> str:
    """Split media fixture ``name`` into 4 doc_id-ordered parquet
    shards (fingerprinted dir) so an availableNow drain with
    maxFilesPerTrigger=1 runs REAL multiple micro-batches over blob
    rows — the arriving-media-shards ingest shape. Blobs are
    independent rows, so batch boundaries never split a clip or an
    image."""
    import os
    import time

    import pyarrow.parquet as pq

    from hdfs_mr_spark.sources.media import fixture
    from hdfs_mr_spark.sources.scans import ORACLE_SF, _fixture_dir

    src = fixture(name)
    d = _fixture_dir(ORACLE_SF) / f"{name}_stream"
    done = d / "_SPLIT_DONE"
    if not done.exists():
        d.mkdir(parents=True, exist_ok=True)
        t = pq.read_table(src)
        step = -(-t.num_rows // _N_STREAM_FILES)
        now = time.time()
        for i in range(_N_STREAM_FILES):
            pth = d / f"part-{i:02d}.parquet"
            pq.write_table(t.slice(i * step, step), pth)
            # pin mtime order (see _docs_stream_src): per-row kernels are
            # batch-order-invariant, but determinism should not rest on
            # fs timestamp granularity
            os.utime(pth, (now - 60 * (_N_STREAM_FILES - i),) * 2)
        done.touch()
    return str(d)


from hdfs_mr_spark.functions.udfs import AUDIO_VAD_ORACLE_SQL  # noqa: E402


@query(
    "stream_audio_vad",
    oracle=AUDIO_VAD_ORACLE_SQL,  # the batch twin's oracle, verbatim
    family=_FAM,
)
def stream_audio_vad(spark, sf_dir):
    """Streaming twin of llm_multimodal_audio_vad (VERDICT r5 item 7 —
    the one family without streaming coverage): WAV blobs arrive as
    parquet shards, readStream drains them availableNow with
    maxFilesPerTrigger=1 (4 real micro-batches), the SAME
    vad_energy_batches mapInPandas kernel (imported, not copied) runs
    per micro-batch inside foreachBatch appending exact-integer frame
    energies to a parquet sink, and the SAME vad_rollup segmentation
    runs over the drained frames. Per-clip results are
    batch-boundary-invariant because clips are whole rows and the
    kernel is per-row — so the streaming path hash-matches the batch
    twin's generative-PCM oracle, the strongest check a streaming op
    can get here.

    Scale: this is the production shape for media ingest — decode
    kernels keyed on arrival inside foreachBatch, rollups over the
    accumulated frame store; state lives in the sink (frames parquet),
    not the StateStore, so the drain is embarrassingly parallel per
    shard."""
    from pyspark.sql import types as T

    from hdfs_mr_spark.functions.udfs import (
        VAD_FRAME_SCHEMA,
        repo_kernel,
        vad_rollup,
    )

    src = _media_stream_src("media_audio")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ])
    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with _drain_root("hmr_vad_") as root:
        out = str(root / "out")

        def sink(batch_df, batch_id):
            # repo_kernel resolves the shared module kernel ON the workers
            # (driver may run from any cwd — see udfs.repo_kernel)
            batch_df.mapInPandas(
                repo_kernel("hdfs_mr_spark.functions.udfs", "vad_energy_batches"),
                schema=VAD_FRAME_SCHEMA,
            ).write.mode("append").parquet(out)

        _drain(s.writeStream.foreachBatch(sink), root / "ckpt")
        fe = spark.read.schema(VAD_FRAME_SCHEMA).parquet(out)
        return vad_rollup(fe).localCheckpoint()


@query(
    "stream_image_decode",
    oracle="""
WITH m AS (
  SELECT doc_id,
         8 + (doc_id * 37) % 56 AS w,
         8 + (doc_id * 53) % 56 AS h
  FROM range(0, 48) r(doc_id)
)
SELECT doc_id,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(
         range(0, w*h), i -> CAST((((i % w) + 2 * (i // w) + doc_id) % 256)
         + (((i % w) + 2 * (i // w) + 7 + doc_id) % 256)
         + (((i % w) + 2 * (i // w) + 14 + doc_id) % 256) AS BIGINT))),
         (a, x) -> a + x) AS sum_px
FROM m
ORDER BY doc_id
""",
    family=_FAM,
)
def stream_image_decode(spark, sf_dir):
    """Streaming IMAGE decode — the visual twin of stream_audio_vad,
    so both rich-media families have ingest-shaped streaming coverage:
    PNG blob shards drain availableNow with maxFilesPerTrigger=1 (4
    real micro-batches), each batch runs the pixel-true PNG decoder
    (module codec png_decode_pixels — chunk walk, inflate, all-five
    unfilter) inside foreachBatch and appends one typed row per image
    (dims + total pixel sum) to a parquet sink; the drained sink is
    the result. Per-image rows are batch-boundary-invariant (blobs are
    whole rows), so the stream hash-matches the generative
    media_px_value formula oracle — the same one wrong decoded byte
    flips contract as the batch pixel ops.

    Scale: arriving media shards decode keyed on arrival — the decode
    cost rides the ingest stream instead of a giant backfill; state
    lives in the sink, parallelism = shard count."""
    from pyspark.sql import types as T

    src = _media_stream_src("media_px")
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ])
    out_schema = "doc_id long, width int, height int, sum_px long"

    from hdfs_mr_spark.functions.udfs import repo_kernel

    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with _drain_root("hmr_img_") as root:
        out = str(root / "out")

        def decode_batch(batch_df, batch_id):
            batch_df.mapInPandas(
                repo_kernel("hdfs_mr_spark.functions.udfs", "png_total_batches"),
                out_schema,
            ).write.mode("append").parquet(out)

        _drain(s.writeStream.foreachBatch(decode_batch), root / "ckpt")
        return (
            spark.read.schema(out_schema).parquet(out)
            .orderBy("doc_id").localCheckpoint()
        )


def _docs_stream_src(sf_dir: str) -> str:
    """The batch-arrival fixture for the streaming dedup absorb: the
    documents with doc_id % 3 == 0 split into 4 doc_id-ordered parquet
    shards — each micro-batch is 'today's crawl', and shard order
    means earlier batches always carry smaller doc_ids (what makes the
    dup_batch verdict deterministic and equal to the batch twin's
    aid < bid rule)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from hdfs_mr_spark.sources.scans import _fixture_dir

    import os
    import time

    d = _fixture_dir(sf_dir) / "docs_stream"
    done = d / "_SPLIT_DONE"
    if not done.exists():
        d.mkdir(parents=True, exist_ok=True)
        t = pq.read_table(f"{sf_dir}/documents.parquet",
                          columns=["doc_id", "text"])
        mask = pc.equal(pc.subtract(t["doc_id"],
                                    pc.multiply(pc.divide(t["doc_id"], 3), 3)),
                        0)
        t = t.filter(mask)
        t = t.take(pc.sort_indices(t, sort_keys=[("doc_id", "ascending")]))
        step = -(-t.num_rows // _N_STREAM_FILES)
        now = time.time()
        for i in range(_N_STREAM_FILES):
            part = t.slice(i * step, step)
            if part.num_rows:
                p = d / f"part-{i:02d}.parquet"
                pq.write_table(part, p)
                # FileStreamSource orders by mtime: a tight write loop
                # can land identical timestamps at fs granularity and
                # the pickup order becomes arbitrary — which REORDERS
                # micro-batches and flips dup_batch pair directions.
                # Pin strictly increasing mtimes, one minute apart.
                os.utime(p, (now - 60 * (_N_STREAM_FILES - i),) * 2)
        done.touch()
    return str(d)


@query(
    "stream_dedup_lsh_absorb",
    oracle="""
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(l) - 1),
                       i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS shingles
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents) d
),
tok AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
pairs AS (
  SELECT b.doc_id AS bid, a.doc_id AS aid, COUNT(*) AS n_common
  FROM tok b JOIN tok a ON a.s = b.s
  WHERE b.doc_id % 3 = 0 AND a.doc_id <> b.doc_id
    AND (a.doc_id % 3 <> 0 OR a.doc_id < b.doc_id)
  GROUP BY b.doc_id, a.doc_id
),
near AS (
  SELECT p.bid, p.aid, (p.aid % 3 <> 0) AS is_base
  FROM pairs p
  JOIN sizes s1 ON p.aid = s1.doc_id
  JOIN sizes s2 ON p.bid = s2.doc_id
  WHERE CAST(p.n_common AS DOUBLE)
        / CAST(s1.sz + s2.sz - p.n_common AS DOUBLE) >= 0.5
),
agg AS (
  SELECT bid,
         MIN(CASE WHEN is_base THEN aid END) AS base_match,
         MIN(CASE WHEN NOT is_base THEN aid END) AS batch_match
  FROM near GROUP BY bid
)
SELECT d.doc_id,
       CASE WHEN a.base_match IS NOT NULL THEN 'dup_base'
            WHEN a.batch_match IS NOT NULL THEN 'dup_batch'
            ELSE 'keep' END AS verdict,
       CASE WHEN a.base_match IS NOT NULL THEN a.base_match
            ELSE a.batch_match END AS matched_doc
FROM documents d LEFT JOIN agg a ON a.bid = d.doc_id
WHERE d.doc_id % 3 = 0
ORDER BY d.doc_id
""",
    family=_FAM,
)
def stream_dedup_lsh_absorb(spark, sf_dir):
    """The round's threads fused into the PRODUCTION ingest-dedup
    pipeline: batches of new documents ARRIVE AS A STREAM (4 real
    micro-batches of doc_id-ordered shards) and each micro-batch,
    inside foreachBatch, (1) MinHash-signs its docs with the shared
    kernels (shingle_frame_of / minhash_sig_of / band_keys_of — the
    exact functions the batch twin uses), (2) probes the LIVE posting
    index for base AND previously-absorbed-batch candidates in one
    band equi-join plus a within-batch self-join, (3) verifies exact
    trigram Jaccard >= 0.5 and appends per-doc verdicts
    (dup_base / dup_batch / keep + lowest matching id) to the result
    sink, then (4) ABSORBS its own postings into the index
    (append-only, partitioned by band) so later batches dedup against
    it. Because shards are doc_id-ordered, 'earlier batch' always
    means 'smaller doc_id', so the drained verdict set equals
    llm_dedup_lsh_stored's batch semantics and hash-checks against the
    same exact all-pairs oracle — order-sensitivity made
    deterministic, which is what lets a streaming dedup be verified at
    all. Index and sink live in per-run temp dirs (the PERSISTED
    lifecycle is llm_dedup_lsh_stored's claim; this op's claim is the
    incremental absorb under streaming arrival)."""
    import time as _time

    from pyspark.sql import types as T

    from hdfs_mr_spark.io import table as _table
    from hdfs_mr_spark.operators.llm_dedup import (
        _shingle_frame,
        band_keys_of,
        minhash_sig_of,
        shingle_frame_of,
    )

    # opt-in per-phase profile (PERF.md r10 attribution): conf
    # spark.hdfs_mr.absorb.profile=true appends (batch, phase, sec)
    # rows to ABSORB_PROFILE — timers wrap the per-batch ACTIONS, the
    # only points lazy plans actually spend wall time
    profiling = (
        str(spark.conf.get("spark.hdfs_mr.absorb.profile", "false"))
        .lower() == "true"
    )

    def _phase(batch_id, name, t0):
        if profiling:
            ABSORB_PROFILE.append((batch_id, name, round(_time.time() - t0, 3)))
        return _time.time()

    src = _docs_stream_src(sf_dir)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    # base index: postings of the existing corpus, built once up front.
    # The SIGNING (MinHash over 2/3 corpus) is 45% of the drain wall at
    # sf0.1 (r8 profile: 4.6 s of ~10 s) and at 100 TB it is
    # llm_dedup_lsh_stored's PRE-BUILT artifact, so the signed frame
    # joins the opt-in cross-query index cache (same reuse conf as the
    # PQ frames) — the per-run temp-dir WRITE at the drain stays,
    # because the drain appends to its own index copy.
    from hdfs_mr_spark.operators.llm_similarity import _pq_cached

    base_docs = _table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 != 0
    ).select("doc_id", "text")
    base_keyed = _pq_cached(
        spark, ("lsh_base_sign", sf_dir),
        lambda: band_keys_of(minhash_sig_of(shingle_frame_of(base_docs))),
    )
    # band-key BLOOM over the live index (VERDICT r8 item 5): built
    # once from the base postings, then bloom-UNIONed with each
    # absorbed batch's keys (bit_or over unioned word frames) — so
    # every micro-batch prefilters its probe keys as a broadcast
    # projection before touching the stored-postings scan. False
    # positives die in the exact band equi-join + Jaccard verify;
    # false negatives are impossible because the bloom covers exactly
    # base + all previously-absorbed batches. The 256-word frame is
    # localCheckpointed per batch, so lineage stays flat across the
    # drain. Kernels shared with join_bloom_prefilter (operators/
    # joins.py).
    from hdfs_mr_spark.operators.joins import (
        bloom_map_of,
        bloom_prefilter,
        bloom_words_of,
    )

    # REGIME GATE (the llm_dedup_ppjoin discipline): the prefilter pays
    # when probe keys mostly MISS the index — the sparse-vocabulary
    # regime, where band buckets are near-unique. On the dense fixture
    # (~31-token vocab) nearly every key hits, so the bloom's 2 extra
    # jobs per micro-batch are pure overhead (measured +2 s on the
    # sf0.1 drain); above the established dense cap it prunes the
    # stored-scan join the way join_bloom_prefilter prunes a fact scan.
    from hdfs_mr_spark import stats as corpus_stats
    from hdfs_mr_spark.operators.llm_dedup import _MASK_WORDS_CAP

    key_cols = (F.col("band"), F.col("h1"), F.col("h2"))
    use_bloom = (
        corpus_stats.vocab_size(spark, sf_dir) > _MASK_WORDS_CAP * 64
    )
    bloom_words = [
        _pq_cached(
            spark, ("lsh_base_bloom", sf_dir),
            lambda: bloom_words_of(base_keyed, *key_cols),
        )
        if use_bloom else None
    ]
    # verify side: shingles of the FULL corpus (candidates may be base
    # or earlier-batch docs; production fetches them by id).
    # localCheckpoint: every micro-batch joins this frame on BOTH pair
    # sides (8 subtree replays per drain without it). At sf0.1 the
    # materialization is a wash (r8 profile: 0.66 s build vs ~0.7 s
    # saved) but it bounds the replay cost at 10x corpora, where one
    # shingle pass is seconds; production equivalent: the shingle
    # store the verify tier fetches from by id.
    sh_all = _shingle_frame(spark, sf_dir).localCheckpoint()

    def absorb(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        t = _time.time()
        docs = batch_df.localCheckpoint()
        t = _phase(batch_id, "batch_materialize", t)
        # per-batch shingle checkpoint stays ON: the ADVICE-r9 claim
        # that skipping it saves ~1 s/batch measured FALSE everywhere
        # this round — skipping cost +4.8 s/drain at sf0.1 (8.6 ->
        # 13.4 s) and +26-42 s on the Zipf corpus (MinHash explodes
        # the interpreted shingle transform 24-way, so re-evaluating
        # un-materialized token arrays always loses; PERF.md r10).
        # The dead parameter was dropped rather than wired.
        keyed = band_keys_of(minhash_sig_of(shingle_frame_of(docs)))
        keyed = keyed.localCheckpoint()  # probe AND absorb consume it
        t = _phase(batch_id, "sign", t)
        stored = spark.read.parquet(post_path).select(
            F.col("doc_id").alias("aid"), "band",
            F.col("h1").alias("g1"), F.col("h2").alias("g2"),
        )
        # bloom prefilter (sparse regime only): batch keys that cannot
        # hit the live index never reach the band equi-join
        probe = keyed
        if use_bloom:
            probe = bloom_prefilter(
                keyed, bloom_map_of(bloom_words[0]), *key_cols
            )
        probe = probe.select(
            F.col("doc_id").alias("bid"), "band", "h1", "h2"
        )
        cand_store = probe.join(
            stored,
            (probe.band == stored.band)
            & (F.col("h1") == F.col("g1")) & (F.col("h2") == F.col("g2")),
        ).select("bid", "aid")
        mine = keyed.select(
            F.col("doc_id").alias("bid"), "band", "h1", "h2"
        )
        other = keyed.select(
            F.col("doc_id").alias("aid"),
            F.col("band").alias("band2"),
            F.col("h1").alias("g1"), F.col("h2").alias("g2"),
        )
        cand_batch = mine.join(
            other,
            (F.col("band") == F.col("band2"))
            & (F.col("h1") == F.col("g1")) & (F.col("h2") == F.col("g2"))
            & (F.col("aid") < F.col("bid")),
        ).select("bid", "aid")
        cand = cand_store.unionByName(cand_batch).dropDuplicates(
            ["bid", "aid"]
        )
        s1 = sh_all.select(F.col("doc_id").alias("aid"),
                           F.col("s").alias("s1"), F.col("sz").alias("sz1"))
        s2 = sh_all.select(F.col("doc_id").alias("bid"),
                           F.col("s").alias("s2"), F.col("sz").alias("sz2"))
        n_common = F.size(F.array_intersect("s1", "s2"))
        jac = n_common.cast("double") / (
            (F.col("sz1") + F.col("sz2") - n_common).cast("double")
        )
        near = (
            cand.join(s1, "aid").join(s2, "bid")
            .select("bid", "aid", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= 0.5)
            .select("bid", "aid", (F.col("aid") % 3 != 0).alias("is_base"))
        )
        agg = near.groupBy("bid").agg(
            F.min(F.when(F.col("is_base"), F.col("aid"))).alias("base_match"),
            F.min(F.when(~F.col("is_base"), F.col("aid"))).alias("batch_match"),
        )
        (
            docs.select("doc_id")
            .join(agg, docs.doc_id == agg.bid, "left")
            .select(
                "doc_id",
                F.when(F.col("base_match").isNotNull(), "dup_base")
                .when(F.col("batch_match").isNotNull(), "dup_batch")
                .otherwise("keep").alias("verdict"),
                F.when(F.col("base_match").isNotNull(), F.col("base_match"))
                .otherwise(F.col("batch_match")).alias("matched_doc"),
            )
            .write.mode("append").parquet(out)
        )
        t = _phase(batch_id, "probe_verify_write", t)
        # absorb AFTER probing: this batch's postings join the index
        # for every later batch (append-only, base files untouched),
        # and the live bloom absorbs the batch's keys the same way
        keyed.write.mode("append").partitionBy("band").parquet(post_path)
        t = _phase(batch_id, "absorb_postings", t)
        if use_bloom:
            bloom_words[0] = (
                bloom_words[0]
                .unionByName(bloom_words_of(keyed, *key_cols))
                .groupBy("word")
                .agg(F.bit_or("bits").alias("bits"))
                .localCheckpoint()
            )
            t = _phase(batch_id, "bloom_union", t)

    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with _drain_root("hmr_lshabs_") as root:
        post_path, out = str(root / "postings"), str(root / "verdicts")
        base_keyed.write.mode("overwrite").partitionBy("band").parquet(post_path)
        _drain(s.writeStream.foreachBatch(absorb), root / "ckpt", timeout=600)
        return spark.read.parquet(out).orderBy("doc_id").localCheckpoint()


@query(
    "stream_lake_append",
    oracle="""
WITH batch AS (
  SELECT doc_id, doc_id % 5 AS bucket
  FROM documents WHERE doc_id % 3 = 0
)
SELECT bucket,
       CAST(4 AS BIGINT) AS n_versions,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       CAST(MIN(doc_id) AS BIGINT) AS min_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_id
FROM batch
GROUP BY bucket
ORDER BY bucket
""",
    family=_FAM,
)
def stream_lake_append(spark, sf_dir):
    """EXACTLY-ONCE streaming commits into the transactional lake
    table (§2.14 meets §2.10 — Delta's foreachBatch txn-version
    discipline): each micro-batch writes its files and commits lake
    version = batch_id via the put-if-absent primitive, so a RETRIED
    batch (restart, speculative re-delivery) finds its version already
    committed and skips — at-least-once delivery becomes exactly-once
    table content with no dedup column and no sink-side state. The
    drain then REPLAYS batch 2's commit deliberately (the retry case)
    and asserts it was refused, and the final snapshot read must
    hash-match the oracle's batch replay — a double-committed batch
    would double id_sum and mismatch.

    At 100 TB this is the canonical streaming ingest shape: object
    store files + a put-if-absent commit per micro-batch; the lake
    log IS the sink's transaction log."""
    from pyspark.sql import types as T

    from hdfs_mr_spark.sources.lake import (
        _commit,
        _log_versions,
        _read_snapshot,
        _write_files,
    )

    src = _docs_stream_src(sf_dir)
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])
    replayed = []

    def commit_batch(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        files = _write_files(
            batch_df.select("doc_id"), root / "data", n_files=1
        )
        ok = _commit(root / "_log", int(batch_id),
                     {"add": files, "remove": []})
        if not ok:
            # retried delivery of an already-committed batch: the
            # orphaned staged files are uncommitted by construction
            for f in files:
                (root / f).unlink()
        if int(batch_id) == 2:
            # deliberate re-delivery of THIS batch: the put-if-absent
            # commit must refuse (exactly-once under retry)
            files2 = _write_files(
                batch_df.select("doc_id"), root / "data", n_files=1
            )
            again = _commit(root / "_log", int(batch_id),
                            {"add": files2, "remove": []})
            assert not again, "retried batch double-committed"
            for f in files2:
                (root / f).unlink()
            replayed.append(batch_id)

    s = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # the drain root is the lake table's root; the checkpoint sits
    # beside its _log and data dirs
    with _drain_root("hmr_lake_stream_") as root:
        _drain(s.writeStream.foreachBatch(commit_batch), root / "ckpt",
               timeout=600)
        assert replayed, "the retry case never exercised"
        n_versions = len(_log_versions(root))
        return (
            _read_snapshot(spark, root)
            .groupBy((F.col("doc_id") % 5).alias("bucket"))
            .agg(
                F.lit(n_versions).cast("bigint").alias("n_versions"),
                F.count("*").cast("bigint").alias("n_docs"),
                F.sum("doc_id").cast("bigint").alias("id_sum"),
                F.min("doc_id").cast("bigint").alias("min_id"),
                F.max("doc_id").cast("bigint").alias("max_id"),
            )
            .orderBy("bucket")
            .localCheckpoint()
        )


@query(
    "stream_lake_tail",
    oracle="""
SELECT o_orderstatus,
       CAST(3 AS BIGINT) AS versions_drained,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    family=_FAM,
)
def stream_lake_tail(spark, sf_dir):
    """The lake table as a STREAMING SOURCE on the full
    partition-planned DataSourceStreamReader (VERDICT r10 item 1; the
    r9 simple reader — which served every row through the driver-side
    runner, the `weak` grade — is retained as
    streaming/lake_source.LakeTailSimpleReader for the offset-protocol
    tests). Offsets ARE lake versions: latestOffset announces the
    NEWEST committed version — source-intrinsic and monotone, the
    Kafka/Delta discipline, so a checkpoint restart can never observe
    a backwards announcement (r11 ADVICE; per-batch version pacing is
    the simple twins' offset-protocol spec); partitions(start,
    end] plans ONE InputPartition PER FILE the span's commits ADDED
    (lake_source.plan_tail_partitions — commit-log metadata only, no
    row IO in the runner); read(partition) executes ON EXECUTORS as a
    pure-pyarrow read of that single file. Versions carrying
    remove-actions are REFUSED at planning time (lake.version_adds —
    an append tail cannot represent data changes; re-seed from a
    snapshot, exactly Delta without ignoreChanges).

    Every partition carries the planner process pid and read() RAISES
    if it executes in that process — the per-run pin (with the
    plan-count unit test on plan_tail_partitions) that rows are NOT
    routed through the driver-side runner. The complete-mode aggregate
    must hash-match the whole-table replay — a dropped, duplicated, or
    torn version mismatches; versions_drained is MEASURED from the
    checkpoint offset log after the drain (r11 ADVICE — a stalled or
    short walk yields a different count and the oracle catches it).

    Scale: incremental IO is O(new data), never O(table), and a commit
    of N files fans out to N executor tasks — the driver handles only
    version integers and file names."""
    from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                        InputPartition)

    from hdfs_mr_spark.functions.udfs import REPO_ROOT as _REPO_ROOT
    from hdfs_mr_spark.sources.lake import _store

    root = _store(spark, sf_dir, "append")
    root_s = str(root)

    class LakeFilePart(InputPartition):
        def __init__(self, root, rel, version, planner_pid):
            self.root = root
            self.rel = rel
            self.version = version
            self.planner_pid = planner_pid

    class LakeTailStreamReader(DataSourceStreamReader):
        """latestOffset/partitions run driver-side in the
        python_streaming_source_runner process (no inherited
        sys.path/cwd — inject REPO_ROOT before repo imports, the
        repo_kernel discipline); read() runs in EXECUTOR workers and
        is pure pyarrow, no repo import at all."""

        def __init__(self, store_root, repo_root):
            self.root = store_root
            self.repo = repo_root
            self.cur = -1

        def _repo_mod(self, name):
            import importlib
            import sys as _sys

            if self.repo not in _sys.path:
                _sys.path.insert(0, self.repo)
            return importlib.import_module(name)

        def initialOffset(self):
            return {"version": -1}

        def latestOffset(self):
            # SOURCE-INTRINSIC latest (ADVICE r11 medium, restart
            # safety): announce the NEWEST committed lake version, the
            # Kafka/Delta discipline — monotone by construction because
            # lake versions only grow, so a fresh reader after a
            # checkpoint restart can never announce an offset BEHIND
            # what Spark already committed (a reader-memory cursor
            # walk re-announced version 0 after restart, poisoning the
            # offset log with a backwards entry whose next span would
            # re-deliver committed versions). Per-batch admission
            # control (one version per batch) is the simple twins'
            # offset-protocol spec (lake_source.py); the scale reader
            # serves whole pending spans, fanned out per file.
            from pathlib import Path as _P

            lake = self._repo_mod("hdfs_mr_spark.sources.lake")
            vs = lake._log_versions(_P(self.root))
            if vs:
                self.cur = max(self.cur, vs[-1])
            return {"version": self.cur}

        def partitions(self, start, end):
            import os as _os

            # recovery path: after a checkpoint restart Spark replans
            # from its own committed offsets BEFORE any commit() call —
            # clamp the in-memory cursor to the Spark-supplied end so a
            # fresh reader never re-announces already-committed versions
            # from latestOffset() (ADVICE r11, medium)
            self.cur = max(self.cur, end["version"])
            src = self._repo_mod("hdfs_mr_spark.streaming.lake_source")
            return [
                LakeFilePart(self.root, f, v, _os.getpid())
                for v, f in src.plan_tail_partitions(
                    self.root, start["version"], end["version"])
            ]

        def read(self, partition):
            import os as _os

            if _os.getpid() == partition.planner_pid:
                raise RuntimeError(
                    "lake tail rows routed through the planner process"
                    " — executor-side read contract broken"
                )
            from pathlib import Path as _P

            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            t = pq.read_table(
                _P(partition.root) / partition.rel,
                columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
            )
            cents = pc.cast(
                pc.round(pc.multiply(t.column("o_totalprice"), 100),
                         round_mode="half_towards_infinity"),
                "int64",
            )
            yield from zip(
                t.column("o_orderkey").to_pylist(),
                t.column("o_orderstatus").to_pylist(),
                cents.to_pylist(),
            )

        def commit(self, end):
            # restart path: after a checkpoint recovery Spark replans
            # from its committed offset — never re-announce versions
            # at or below it
            self.cur = max(self.cur, end["version"])

    class LakeTailSource(DataSource):
        @classmethod
        def name(cls):
            return "hmr_lake_tail"

        def schema(self):
            return "o_orderkey bigint, o_orderstatus string, cents bigint"

        def streamReader(self, schema):
            return LakeTailStreamReader(
                self.options["path"], self.options["repo"]
            )

    try:
        spark.dataSource.register(LakeTailSource)
    except Exception as exc:
        if "exist" not in str(exc).lower() and "already" not in str(exc).lower():
            raise

    agg = (
        spark.readStream.format("hmr_lake_tail")
        .option("path", root_s)
        .option("repo", _REPO_ROOT)
        .load()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
            F.min("o_orderkey").cast("bigint").alias("min_key"),
            F.max("o_orderkey").cast("bigint").alias("max_key"),
        )
    )
    with _drain_root("hmr_laketail_") as root:
        d = _drain(agg.writeStream.outputMode("complete").format("memory"),
                   root / "ckpt")
        drained = _ckpt_drained_versions(root / "ckpt")
    return (
        d.table
        .select(
            "o_orderstatus",
            F.lit(drained).cast("bigint").alias("versions_drained"),
            "n_orders", "cents", "min_key", "max_key",
        )
        .orderBy("o_orderstatus")
        .localCheckpoint()
    )


@query(
    "stream_lake_partition_tail",
    oracle="""
SELECT o_orderstatus,
       CAST(7 AS BIGINT) AS versions_drained,
       CAST(2 AS BIGINT) AS files_planned,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
    family=_FAM,
)
def stream_lake_partition_tail(spark, sf_dir):
    """PARTITION-PRUNED streaming tail of the partitioned lake table
    (r11 — the §2.14 partitionValues format meeting the full
    DataSourceStreamReader): a consumer that only wants partition
    o_year=1997 tails the 7-commit hive-partitioned store, and the
    planner skips non-matching files FROM THE COMMIT LOG ALONE —
    lake_source.plan_tail_partitions with a partition filter plans 2
    of the 14 live files (files_planned is the shared planner's
    driver-side recompute — the 2-of-14 plan itself is pinned by
    tests/test_lake_stream.py::test_tail_plan_partition_filter), the
    other 12 are never opened by any executor, and non-matching
    commits drain as empty work that still advances the offset —
    versions_drained is MEASURED from the checkpoint offset log after
    the drain (r11 ADVICE: a stalled or short walk now yields a
    different count and the oracle catches it). Files with no recorded
    partitionValues are conservatively kept (never-a-filter),
    mirroring the batch prune.

    read() is the same executor-side pure-pyarrow single-file scan as
    stream_lake_tail, planner-pid-guarded. At 100 TB this is the
    tenant-feed shape: a year- (or tenant-) scoped incremental
    consumer pays O(its partition's new files) per commit, not O(table
    churn) — metadata does the filtering, executors do the reading."""
    from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                        InputPartition)

    from hdfs_mr_spark.functions.udfs import REPO_ROOT as _REPO_ROOT
    from hdfs_mr_spark.sources.lake import (_build_partitioned_store,
                                            _log_versions, _publish_store)
    from hdfs_mr_spark.sources.scans import _fixture_dir
    from hdfs_mr_spark.streaming.lake_source import plan_tail_partitions

    root = _publish_store(
        lambda tmp: _build_partitioned_store(spark, sf_dir, tmp),
        _fixture_dir(sf_dir) / "lake_part",
    )
    root_s = str(root)
    n_versions = len(_log_versions(root))
    n_planned = len(plan_tail_partitions(
        root_s, -1, n_versions - 1, "o_year", "1997"
    ))

    class LakeFilePart(InputPartition):
        def __init__(self, root, rel, version, planner_pid):
            self.root = root
            self.rel = rel
            self.version = version
            self.planner_pid = planner_pid

    class LakePartTailReader(DataSourceStreamReader):
        """Runner-process planning (REPO_ROOT injection), executor
        reads — stream_lake_tail's contract plus the partition
        filter pushed into partitions()."""

        def __init__(self, store_root, repo_root, part_col, part_val):
            self.root = store_root
            self.repo = repo_root
            self.part_col = part_col
            self.part_val = part_val
            self.cur = -1

        def _repo_mod(self, name):
            import importlib
            import sys as _sys

            if self.repo not in _sys.path:
                _sys.path.insert(0, self.repo)
            return importlib.import_module(name)

        def initialOffset(self):
            return {"version": -1}

        def latestOffset(self):
            # source-intrinsic newest committed version — restart-safe
            # monotone announcement; see LakeTailStreamReader
            from pathlib import Path as _P

            lake = self._repo_mod("hdfs_mr_spark.sources.lake")
            vs = lake._log_versions(_P(self.root))
            if vs:
                self.cur = max(self.cur, vs[-1])
            return {"version": self.cur}

        def partitions(self, start, end):
            import os as _os

            # recovery clamp — see LakeTailStreamReader.partitions()
            self.cur = max(self.cur, end["version"])
            src = self._repo_mod("hdfs_mr_spark.streaming.lake_source")
            return [
                LakeFilePart(self.root, f, v, _os.getpid())
                for v, f in src.plan_tail_partitions(
                    self.root, start["version"], end["version"],
                    self.part_col, self.part_val)
            ]

        def read(self, partition):
            import os as _os

            if _os.getpid() == partition.planner_pid:
                raise RuntimeError(
                    "partitioned lake tail rows routed through the "
                    "planner process — executor-side read contract broken"
                )
            from pathlib import Path as _P

            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            t = pq.read_table(
                _P(partition.root) / partition.rel,
                columns=["o_orderkey", "o_orderstatus", "o_totalprice"],
            )
            cents = pc.cast(
                pc.round(pc.multiply(t.column("o_totalprice"), 100),
                         round_mode="half_towards_infinity"),
                "int64",
            )
            yield from zip(
                t.column("o_orderkey").to_pylist(),
                t.column("o_orderstatus").to_pylist(),
                cents.to_pylist(),
            )

        def commit(self, end):
            self.cur = max(self.cur, end["version"])

    class LakePartTailSource(DataSource):
        @classmethod
        def name(cls):
            return "hmr_lake_part_tail"

        def schema(self):
            return "o_orderkey bigint, o_orderstatus string, cents bigint"

        def streamReader(self, schema):
            return LakePartTailReader(
                self.options["path"], self.options["repo"],
                self.options["part_col"], self.options["part_val"],
            )

    try:
        spark.dataSource.register(LakePartTailSource)
    except Exception as exc:
        if "exist" not in str(exc).lower() and "already" not in str(exc).lower():
            raise

    agg = (
        spark.readStream.format("hmr_lake_part_tail")
        .option("path", root_s)
        .option("repo", _REPO_ROOT)
        .option("part_col", "o_year")
        .option("part_val", "1997")
        .load()
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
            F.min("o_orderkey").cast("bigint").alias("min_key"),
            F.max("o_orderkey").cast("bigint").alias("max_key"),
        )
    )
    with _drain_root("hmr_lakeparttail_") as root:
        d = _drain(agg.writeStream.outputMode("complete").format("memory"),
                   root / "ckpt")
        drained = _ckpt_drained_versions(root / "ckpt")
    return (
        d.table
        .select(
            "o_orderstatus",
            F.lit(drained).cast("bigint").alias("versions_drained"),
            F.lit(n_planned).cast("bigint").alias("files_planned"),
            "n_orders", "cents", "min_key", "max_key",
        )
        .orderBy("o_orderstatus")
        .localCheckpoint()
    )


@query(
    "stream_lake_cdf",
    oracle="""
WITH ch AS (
  SELECT 'insert' AS ct, 0 AS v, o_orderpriority AS prio,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT 'insert', 1, o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT)
  FROM orders WHERE o_orderkey % 3 = 1
  UNION ALL
  SELECT 'insert', 2, o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT)
  FROM orders WHERE o_orderkey % 3 = 2
  UNION ALL
  SELECT 'update_preimage', 3, o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT)
  FROM orders
  WHERE o_orderkey % 7 = 0 AND o_orderpriority <> '1-URGENT'
  UNION ALL
  SELECT 'update_postimage', 3, '1-URGENT',
         CAST(round(o_totalprice * 100) AS BIGINT)
  FROM orders
  WHERE o_orderkey % 7 = 0 AND o_orderpriority <> '1-URGENT'
)
SELECT ct AS _change_type,
       CAST(v AS BIGINT) AS _commit_version,
       CAST(4 AS BIGINT) AS versions_drained,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) FILTER (WHERE prio = '1-URGENT') AS BIGINT)
         AS n_urgent,
       CAST(SUM(cents) AS BIGINT) AS cents
FROM ch
GROUP BY ct, v
ORDER BY ct, v
""",
    family=_FAM,
)
def stream_lake_cdf(spark, sf_dir):
    """The lake CHANGE FEED as a STREAMING SOURCE on the full
    partition-planned DataSourceStreamReader (VERDICT r10 item 1; the
    r9 driver-pump simple reader is retained as
    streaming/lake_source.LakeCdfSimpleReader for the offset-protocol
    tests) — the CDC-capable twin of stream_lake_tail, which REFUSES
    remove-carrying versions. Offsets are lake versions, one commit
    per micro-batch; partitions(start, end] plans the span with
    lake_source.plan_cdf_partitions (commit-log metadata only): an
    append commit fans out one partition PER ADDED FILE (inserts), the
    COW merge commit one partition PER CHANGE-DATA SIDECAR the r11
    writer recorded (_change_data/, Delta's layout — per-file sidecars
    ARE the parallel unit of a change feed), and a legacy COW commit
    with no sidecars degrades to one diff partition. read(partition)
    executes ON EXECUTORS: sidecar/insert partitions are pure-pyarrow
    single-file reads; the diff fallback replays
    lake.version_changes(use_cdc=False) worker-side. The planner-pid
    guard in read() raises if any row is served from the planner
    process — the per-run pin that the r10 driver-pump defect stays
    dead.

    The drain walks the 4-version merge store (3 appends + 1 COW
    merge); the complete-mode aggregate by (change_type, version) must
    hash-match the per-version replay — a missed carried-rewrite drop,
    a wrong image direction (n_urgent pins it), or a skipped or
    duplicated version all mismatch; versions_drained is measured from
    the checkpoint offset log after the drain (r11 ADVICE).
    This is Delta's readChangeFeed streaming contract: a
    downstream incremental consumer follows a mutating 100 TB table by
    reading O(changed rows per commit) across executors, never
    re-snapshotting and never serializing through the driver."""
    from pyspark.sql.datasource import (DataSource, DataSourceStreamReader,
                                        InputPartition)

    from hdfs_mr_spark.functions.udfs import REPO_ROOT as _REPO_ROOT
    from hdfs_mr_spark.sources.lake import _merge_commit, _store

    root = _store(
        spark, sf_dir, "merge2",
        extra=lambda tmp: _merge_commit(spark, tmp),
    )
    root_s = str(root)

    class CdfPart(InputPartition):
        def __init__(self, root, repo, kind, version, rel, planner_pid):
            self.root = root
            self.repo = repo
            self.kind = kind
            self.version = version
            self.rel = rel
            self.planner_pid = planner_pid

    class LakeCdfStreamReader(DataSourceStreamReader):
        """Offset/partition planning in the runner process (inject
        REPO_ROOT first — repo_kernel discipline); row IO in executor
        workers."""

        def __init__(self, store_root, repo_root):
            self.root = store_root
            self.repo = repo_root
            self.cur = -1

        def _repo_mod(self, name):
            import importlib
            import sys as _sys

            if self.repo not in _sys.path:
                _sys.path.insert(0, self.repo)
            return importlib.import_module(name)

        def initialOffset(self):
            return {"version": -1}

        def latestOffset(self):
            # source-intrinsic newest committed version — restart-safe
            # monotone announcement; see LakeTailStreamReader
            from pathlib import Path as _P

            lake = self._repo_mod("hdfs_mr_spark.sources.lake")
            vs = lake._log_versions(_P(self.root))
            if vs:
                self.cur = max(self.cur, vs[-1])
            return {"version": self.cur}

        def partitions(self, start, end):
            import os as _os

            # recovery clamp — see LakeTailStreamReader.partitions()
            self.cur = max(self.cur, end["version"])
            src = self._repo_mod("hdfs_mr_spark.streaming.lake_source")
            return [
                CdfPart(self.root, self.repo, kind, v, rel, _os.getpid())
                for kind, v, rel in src.plan_cdf_partitions(
                    self.root, start["version"], end["version"])
            ]

        def read(self, partition):
            import os as _os

            if _os.getpid() == partition.planner_pid:
                raise RuntimeError(
                    "lake CDF rows routed through the planner process"
                    " — executor-side read contract broken"
                )
            from pathlib import Path as _P

            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            v = partition.version
            if partition.kind == "diff":
                # legacy commit (no recorded sidecars): replay the
                # pyarrow full-row diff ON THE EXECUTOR
                import sys as _sys

                if partition.repo not in _sys.path:
                    _sys.path.insert(0, partition.repo)
                from hdfs_mr_spark.sources.lake import version_changes

                yield from version_changes(
                    _P(partition.root), v, use_cdc=False)
                return
            if partition.kind == "cdc":
                t = pq.read_table(
                    _P(partition.root) / partition.rel,
                    columns=["_change_type", "o_orderkey",
                             "o_orderpriority", "o_totalprice"],
                )
                types = t.column("_change_type").to_pylist()
            else:  # insert: one added data file
                t = pq.read_table(
                    _P(partition.root) / partition.rel,
                    columns=["o_orderkey", "o_orderpriority",
                             "o_totalprice"],
                )
                types = ["insert"] * t.num_rows
            cents = pc.cast(
                pc.round(pc.multiply(t.column("o_totalprice"), 100),
                         round_mode="half_towards_infinity"),
                "int64",
            )
            yield from zip(
                types,
                [v] * t.num_rows,
                t.column("o_orderkey").to_pylist(),
                t.column("o_orderpriority").to_pylist(),
                cents.to_pylist(),
            )

        def commit(self, end):
            self.cur = max(self.cur, end["version"])

    class LakeCdfSource(DataSource):
        @classmethod
        def name(cls):
            return "hmr_lake_cdf"

        def schema(self):
            return (
                "_change_type string, _commit_version bigint, "
                "o_orderkey bigint, o_orderpriority string, cents bigint"
            )

        def streamReader(self, schema):
            return LakeCdfStreamReader(
                self.options["path"], self.options["repo"]
            )

    try:
        spark.dataSource.register(LakeCdfSource)
    except Exception as exc:
        if "exist" not in str(exc).lower() and "already" not in str(exc).lower():
            raise

    agg = (
        spark.readStream.format("hmr_lake_cdf")
        .option("path", root_s)
        .option("repo", _REPO_ROOT)
        .load()
        .groupBy("_change_type", "_commit_version")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum((F.col("o_orderpriority") == "1-URGENT").cast("bigint"))
            .cast("bigint").alias("n_urgent"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
    )
    with _drain_root("hmr_lakecdf_") as root:
        d = _drain(agg.writeStream.outputMode("complete").format("memory"),
                   root / "ckpt")
        drained = _ckpt_drained_versions(root / "ckpt")
    return (
        d.table
        .select(
            "_change_type", "_commit_version",
            F.lit(drained).cast("bigint").alias("versions_drained"),
            "n_rows", "n_urgent", "cents",
        )
        .orderBy("_change_type", "_commit_version")
        .localCheckpoint()
    )


@query(
    "stream_pattern_match",
    oracle="""
WITH e AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
  FROM events WHERE event_type IN ('view', 'purchase')
),
runs0 AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS pos,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id)
         - ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS grp
  FROM e
),
runs AS (
  SELECT user_id, event_type, grp,
         CAST(COUNT(*) AS BIGINT) AS run_len,
         MIN(pos) AS run_pos
  FROM runs0 GROUP BY user_id, event_type, grp
),
seq AS (
  SELECT user_id, event_type, run_len,
         lead(event_type) OVER w AS next_type,
         lead(run_len) OVER w AS next_len,
         lead(event_type, 2) OVER w AS seal_type
  FROM runs
  WINDOW w AS (PARTITION BY user_id ORDER BY run_pos)
),
matches AS (
  SELECT user_id, run_len AS views_run, next_len AS purchases_run
  FROM seq
  WHERE event_type = 'view' AND next_type = 'purchase'
    AND seal_type IS NOT NULL
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(SUM(views_run) AS BIGINT) AS views_consumed,
       CAST(SUM(purchases_run) AS BIGINT) AS purchases_consumed,
       CAST(MAX(views_run) AS BIGINT) AS longest_view_run
FROM matches
GROUP BY user_id
ORDER BY user_id
""",
    family=_FAM,
)
def stream_pattern_match(spark, sf_dir):
    """STREAMING CEP — ts_pattern_match's V+ P+ pattern evaluated
    incrementally with applyInPandasWithState, runs carried ACROSS
    micro-batches: per-user state holds (pending view-run length, open
    run type, open run length); each batch's events extend or close
    the open run, and a match emits when its purchase-run is SEALED by
    a following run — the only moment the run length is final. Sealed
    semantics are the honest streaming contract (the trailing run pair
    at end-of-stream is never known complete), and the oracle states
    them exactly: the batch run-sequence replay requires a second
    lead() — a run AFTER the purchase-run — so batch and stream agree
    row-for-row. The 4-file time-ordered drain makes runs genuinely
    span batch boundaries (a view-run opened in batch 1 can seal in
    batch 3).

    Scale: state per user is three scalars regardless of history —
    CEP as incremental state, not reprocessing; each batch shuffles
    only its own events by user. The fixture split is sorted by
    (ts, event_id), so arrival order equals event-time order — with
    out-of-order arrival this operator would buffer within the
    watermark like stream_watermark_late before run construction."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def cep(key, pdfs, state: GroupState):
        pv, otype, olen = state.get if state.exists else (0, "", 0)
        matches = []
        ev = pd.concat(list(pdfs), ignore_index=True)
        ev = ev.sort_values(["ts", "event_id"])
        for t in ev["event_type"]:
            if t == otype:
                olen += 1
                continue
            # run transition: the open run closes, sealed by t's run
            if otype == "view":
                pv = olen
            elif otype == "purchase":
                if pv > 0:
                    matches.append((pv, olen))
                pv = 0
            otype, olen = t, 1
        state.update((int(pv), otype, int(olen)))
        if matches:
            yield pd.DataFrame({
                "user_id": [key[0]] * len(matches),
                "views_run": [m[0] for m in matches],
                "purchases_run": [m[1] for m in matches],
            })

    s = (
        _event_stream(spark, sf_dir, multi=True)
        .filter(F.col("event_type").isin("view", "purchase"))
        .select("user_id", "event_id", "ts", "event_type")
    )
    out = (
        s.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            cep,
            outputStructType=(
                "user_id long, views_run long, purchases_run long"
            ),
            stateStructType="pv long, otype string, olen long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return (
        _drain(
            out.writeStream.format("memory").outputMode("append"),
            conf=_SHUFFLE8,
        ).table
        .groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n_matches"),
            F.sum("views_run").cast("bigint").alias("views_consumed"),
            F.sum("purchases_run").cast("bigint")
            .alias("purchases_consumed"),
            F.max("views_run").cast("bigint").alias("longest_view_run"),
        )
        .orderBy("user_id")
        .localCheckpoint()
    )


@query(
    "stream_python_datasource_sink",
    oracle="""
WITH src AS (
  SELECT doc_id, CAST(length(text) AS BIGINT) AS text_len
  FROM documents WHERE doc_id % 3 = 0
)
SELECT CAST(doc_id % 5 AS BIGINT) AS bucket,
       CAST(4 AS BIGINT) AS n_epochs,
       CAST(4 AS BIGINT) AS n_refused,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS id_sum,
       CAST(SUM(text_len) AS BIGINT) AS len_sum
FROM src
GROUP BY doc_id % 5
ORDER BY bucket
""",
    family=_FAM,
)
def stream_python_datasource_sink(spark, sf_dir):
    """STREAMING custom sink via Spark 4's Python Data Source
    STREAM-WRITER API (r12 — VERDICT r11 missing item 2, the hole a
    real user building a custom sink hits first): the connector matrix
    already had batch read/write and streaming read; this is the
    fourth quadrant — ``writeStream.format(...)`` into a registered
    Python DataSource whose ``streamWriter`` runs the EPOCH-KEYED
    two-phase commit a distributed streaming sink needs. Executors
    write task-private temps and return WriterCommitMessages; the
    driver's ``commit(messages, batchId)`` renames them into
    ``epoch-{batchId}-part-*`` files and SEALS the epoch with a
    put-if-absent marker (O_CREAT|O_EXCL — the lake _commit
    primitive through the DataSource API). A RE-DELIVERED epoch finds
    its marker taken, refuses, and deletes the redundant temps — so
    at-least-once delivery becomes exactly-once sink content
    (stream_lake_append's discipline, expressed through the public
    writer API instead of foreachBatch).

    The refusal path is exercised FOR REAL: the same bounded stream
    runs twice, the second time from a FRESH checkpoint, so every
    epoch is re-delivered with the same batchId and must bounce off
    its marker. n_epochs/n_refused are measured from the sink's
    marker and refusal logs and pinned as oracle columns, and the
    query reads the committed files back — a double-committed epoch
    would double id_sum and hash-mismatch.

    Scale: one temp + one rename per task per epoch; commit is
    O(#tasks) driver metadata work per epoch (the object-store
    multipart contract); markers make recovery idempotent with no
    sink-side row state."""
    import os

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        WriterCommitMessage,
    )

    src = _docs_stream_src(sf_dir)

    class EpochMsg(WriterCommitMessage):
        def __init__(self, tmp_name, n_rows, pid):
            self.tmp_name, self.n_rows, self.pid = tmp_name, n_rows, pid

    class EpochWriter(DataSourceStreamWriter):
        def __init__(self, path):
            self.path = path

        def write(self, rows):
            # EXECUTOR side: task-private temp, stdlib only (workers
            # inherit no repo sys.path — nothing repo-side is needed).
            # The temp is KEYED BY PARTITION ID (r13 ADVICE): replay of
            # an epoch is deterministic PER PARTITION, so the partition
            # id — not a sort over random uuid names — is the stable
            # identity that lets a repair pair a re-delivered temp with
            # the final name it must become.
            import json as _json
            import os as _os
            import uuid as _u

            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            tmp = _os.path.join(
                self.path, f"_tmp_{pid:05d}_{_u.uuid4().hex}.jsonl"
            )
            n = 0
            with open(tmp, "w") as fh:
                for r in rows:
                    fh.write(_json.dumps(
                        {"doc_id": r[0], "text_len": r[1]}
                    ) + "\n")
                    n += 1
            return EpochMsg(tmp, n, pid)

        def commit(self, messages, batchId):
            # MARKER-FIRST two-phase commit (VERDICT r12 ADVICE): the
            # put-if-absent marker is sealed BEFORE any final file is
            # exposed and records the exact final-name set, so a crash
            # anywhere leaves a recoverable state: (a) crash before the
            # seal -> no marker, no finals, replay commits fresh;
            # (b) crash between seal and renames -> marker lists finals
            # that are missing, and the re-delivered epoch COMPLETES
            # them from its own temps — matched by PARTITION ID carried
            # in each commit message (r13 ADVICE: the previous
            # sorted-uuid pairing was random per delivery and could
            # rename the wrong partition's temp onto a missing final).
            # A fully-committed epoch re-delivered refuses and drops
            # redundant temps.
            import json as _json
            import os as _os

            marker = _os.path.join(
                self.path, "_commits", f"{int(batchId):010d}.json"
            )
            by_pid = {
                m.pid: m for m in messages if m is not None
            }
            names = {
                pid: f"epoch-{int(batchId):010d}-part-{pid:05d}.jsonl"
                for pid in sorted(by_pid)
            }
            if _os.path.exists(marker):
                with open(marker) as fh:
                    sealed = _json.loads(fh.read())
                # repair: finish any rename the sealing attempt lost,
                # pairing each missing final with the SAME partition's
                # re-delivered temp (final names encode the pid)
                for n in sealed["files"]:
                    if _os.path.exists(_os.path.join(self.path, n)):
                        continue
                    pid = int(n.rsplit("-", 1)[1].split(".")[0])
                    if pid in by_pid:
                        _os.rename(
                            by_pid[pid].tmp_name,
                            _os.path.join(self.path, n),
                        )
                for m in by_pid.values():  # redundant re-delivery temps
                    try:
                        _os.remove(m.tmp_name)
                    except OSError:
                        pass
                with open(_os.path.join(
                        self.path, "_refusals.log"), "a") as fh:
                    fh.write(f"{int(batchId)}\n")
                return
            # put-if-absent seal FIRST: the epoch is committed iff its
            # marker exists (lake _commit's O_CREAT|O_EXCL discipline);
            # the marker is the authority for which finals belong to it
            fd = _os.open(marker, _os.O_CREAT | _os.O_EXCL | _os.O_WRONLY)
            with _os.fdopen(fd, "w") as fh:
                fh.write(_json.dumps({
                    "files": list(names.values()),
                    "rows": sum(m.n_rows for m in by_pid.values()),
                }))
            for pid, n in names.items():
                _os.rename(
                    by_pid[pid].tmp_name, _os.path.join(self.path, n)
                )

        def abort(self, messages, batchId):
            import os as _os

            for m in messages:
                if m is not None:
                    try:
                        _os.remove(m.tmp_name)
                    except OSError:
                        pass

    class EpochSink(DataSource):
        @classmethod
        def name(cls):
            return "hdfs_mr_epoch_sink"

        def schema(self):
            return "doc_id bigint, text_len bigint"

        def streamWriter(self, schema, overwrite):
            return EpochWriter(self.options["path"])

    try:
        spark.dataSource.register(EpochSink)
    except Exception as exc:
        if ("exist" not in str(exc).lower()
                and "already" not in str(exc).lower()):
            raise

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ])

    proj = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(
            F.col("doc_id"),
            F.length("text").cast("bigint").alias("text_len"),
        )
    )
    with _drain_root("hmr_pyds_sink_") as root:
        out = root / "out"
        (out / "_commits").mkdir(parents=True)
        # first delivery: every epoch seals its marker; the second runs
        # from a FRESH checkpoint: every epoch re-delivered -> refused
        for ckpt in ("ckpt1", "ckpt2"):
            sink = proj.writeStream.format("hdfs_mr_epoch_sink")
            _drain(sink.option("path", str(out)), root / ckpt, timeout=600)

        n_epochs = len(os.listdir(out / "_commits"))
        # no re-delivered epoch (zero micro-batches) leaves no log
        ref_log = out / "_refusals.log"
        n_refused = len(ref_log.read_text().split()) if ref_log.exists() else 0
        back_schema = "doc_id bigint, text_len bigint"
        back = (
            spark.read.schema(back_schema).json(str(out / "epoch-*.jsonl"))
            if any(out.glob("epoch-*.jsonl"))
            else spark.createDataFrame([], back_schema)
        )
        return (
            back.groupBy((F.col("doc_id") % 5).cast("bigint").alias("bucket"))
            .agg(
                F.lit(n_epochs).cast("bigint").alias("n_epochs"),
                F.lit(n_refused).cast("bigint").alias("n_refused"),
                F.count("*").cast("bigint").alias("n_docs"),
                F.sum("doc_id").cast("bigint").alias("id_sum"),
                F.sum("text_len").cast("bigint").alias("len_sum"),
            )
            .select("bucket", "n_epochs", "n_refused", "n_docs",
                    "id_sum", "len_sum")
            .orderBy("bucket")
            .localCheckpoint()
        )


def _hdr_rollup_oracle() -> str:
    from hdfs_mr_spark.operators.aggregates import (
        _hdr_bucket_sql,
        _hdr_decode_sql,
    )

    bucket = _hdr_bucket_sql("c", "//")
    decode = _hdr_decode_sql("mb", "//")
    return f"""
WITH b AS (
  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
           AS window_start,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events WHERE value > 0
),
h AS (
  SELECT window_start, CAST({bucket} AS BIGINT) AS bucket,
         COUNT(*) AS cnt
  FROM b GROUP BY window_start, bucket
),
cum AS (
  SELECT window_start, bucket, cnt,
         SUM(cnt) OVER (PARTITION BY window_start ORDER BY bucket)
           AS cum
  FROM h
),
sz AS (SELECT window_start, SUM(cnt) AS n, COUNT(*) AS n_buckets
       FROM h GROUP BY window_start),
tgt AS (SELECT window_start, ((95 * n) + 99) // 100 AS tgt FROM sz),
mb AS (
  SELECT c.window_start, MIN(c.bucket) AS mb
  FROM cum c JOIN tgt t ON t.window_start = c.window_start
  WHERE c.cum >= t.tgt GROUP BY c.window_start
),
est AS (SELECT window_start, CAST({decode} AS BIGINT) AS est95 FROM mb),
rnk AS (
  SELECT window_start, c,
         row_number() OVER (PARTITION BY window_start ORDER BY c) AS rn
  FROM b
),
ex AS (
  SELECT r.window_start, r.c AS ex95
  FROM rnk r JOIN tgt t ON t.window_start = r.window_start
  WHERE r.rn = t.tgt
)
SELECT s.window_start,
       CAST(s.n AS BIGINT) AS n,
       CAST(s.n_buckets AS BIGINT) AS n_buckets,
       e.est95, x.ex95,
       (e.est95 <= x.ex95
        AND 16 * (x.ex95 - e.est95) <= e.est95) AS bound_ok
FROM sz s JOIN est e USING (window_start) JOIN ex x USING (window_start)
ORDER BY s.window_start
"""


@query("stream_hdr_rollup", oracle=_hdr_rollup_oracle(), family=_FAM)
def stream_hdr_rollup(spark, sf_dir):
    """STREAMING HDR-quantile rollup — the ingest-latency/value
    monitoring shape: per 1-day tumbling window, the stream maintains
    the agg_hdr_histogram log-bucket sketch AS the streaming state
    (groupBy(window, bucket) counts — counts merge by ADDITION across
    micro-batches, which is exactly what makes the HDR sketch the
    right streaming quantile: the state store update is the sketch
    merge, no raw values retained). p95 is then read from the drained
    sketch by the same cumulative walk + lower-bound decode as the
    batch twin, and the 6.25% relative bound is PINNED per window
    against the rank-exact p95 computed from the batch table (the
    audit side — production reads only the sketch).

    Scale: streaming state is <=~700 counters per open window
    regardless of event volume (vs the unbounded raw-value state an
    exact streaming quantile would need); complete-mode drain is
    deterministic so the whole artifact hash-checks. The bucket ladder
    is the shared integer CASE (no log(), no ulp risk) from
    operators/aggregates."""
    from hdfs_mr_spark.operators.aggregates import (
        _hdr_bucket_sql,
        _hdr_decode_sql,
    )

    s = _event_stream(spark, sf_dir)
    b = s.filter(F.col("value") > 0).select(
        F.window("ts", "1 day").alias("win"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    ).select(
        F.col("win.start").alias("window_start"),
        F.expr(_hdr_bucket_sql("c", "DIV")).cast("bigint").alias("bucket"),
    )
    agg = b.groupBy("window_start", "bucket").agg(
        F.count("*").alias("cnt")
    )
    hist = _drain(
        agg.writeStream.format("memory").outputMode("complete"),
        conf=_SHUFFLE8,
    ).table.localCheckpoint()
    wcum = Window.partitionBy("window_start").orderBy("bucket")
    cum = hist.withColumn("cum", F.sum("cnt").over(wcum))
    sz = hist.groupBy("window_start").agg(
        F.sum("cnt").alias("n"), F.count("*").alias("n_buckets")
    )
    tgt = sz.select(
        "window_start",
        F.expr("CAST((95 * n + 99) DIV 100 AS BIGINT)").alias("tgt"),
    )
    est = (
        cum.join(tgt, "window_start")
        .filter(F.col("cum") >= F.col("tgt"))
        .groupBy("window_start")
        .agg(F.min("bucket").alias("mb"))
        .select(
            "window_start",
            F.expr(_hdr_decode_sql("mb", "DIV")).cast("bigint")
            .alias("est95"),
        )
    )
    # exact twin from the batch table — the audit side only
    from hdfs_mr_spark.io import table

    ev = table(spark, sf_dir, "events")
    eb = ev.filter(F.col("value") > 0).select(
        F.date_trunc("day", F.col("ts")).alias("window_start"),
        F.round(F.col("value") * 100).cast("bigint").alias("c"),
    )
    wrnk = Window.partitionBy("window_start").orderBy("c")
    ex = (
        eb.withColumn("rn", F.row_number().over(wrnk))
        .join(tgt, "window_start")
        .filter(F.col("rn") == F.col("tgt"))
        .select("window_start", F.col("c").alias("ex95"))
    )
    return (
        sz.join(est, "window_start").join(ex, "window_start")
        .select(
            "window_start",
            F.col("n").cast("bigint").alias("n"),
            F.col("n_buckets").cast("bigint").alias("n_buckets"),
            "est95", "ex95",
            ((F.col("est95") <= F.col("ex95"))
             & (16 * (F.col("ex95") - F.col("est95"))
                <= F.col("est95"))).alias("bound_ok"),
        )
        .orderBy("window_start")
    )


@query(
    "stream_rocksdb_state",
    oracle="""
SELECT event_type,
       TRUE AS rocksdb_engaged,
       TRUE AS changelog_present,
       CAST(4 AS BIGINT) AS n_batches,
       COUNT(*) AS n,
       (CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) * 100000000
             AS DECIMAL(38,0)) AS DOUBLE) / 100000000.0) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    family=_FAM,
)
def stream_rocksdb_state(spark, sf_dir):
    """Stateful streaming aggregation on the ROCKSDB STATE STORE
    (r13 — VERDICT r12 missing item 3 / next-round item 1: every
    stateful op so far ran on the default HDFS-backed in-memory
    provider, which at 100 TB-class state — dedup postings, session
    maps — is the first production lever a user reaches for; Spark 4
    ships RocksDBStateStoreProvider in core and it ENGAGES in this
    environment, probed this round). The same 4-micro-batch bounded
    drain as stream_tumbling runs a complete-mode groupBy aggregate
    with ``spark.sql.streaming.stateStore.providerClass`` pointed at
    RocksDB and CHANGELOG CHECKPOINTING on (commit uploads the version
    delta, not a full SST snapshot — the at-scale recovery path).

    The pinned columns PROVE engagement rather than assert config:
    ``rocksdb_engaged`` is measured from the finished query's progress
    metrics (stateOperators.customMetrics carries rocksdb* keys only
    when the provider actually loaded), ``changelog_present`` from the
    checkpoint's state directory containing ``*.changelog`` files
    (written only by changelog checkpointing), and ``n_batches`` from
    the commit log — while the aggregate itself stays hash-checked
    against the batch twin, so a provider that corrupted state across
    the 4-batch carry could not pass.

    Scale: RocksDB spills keyed state to local disk with block-cache
    reads — state volume is bounded by disk, not executor heap; the
    changelog bounds per-commit upload to the delta. Session conf is
    restored after the drain so sibling queries keep their provider."""
    import os

    s = _event_stream(spark, sf_dir)
    agg = (
        s.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            dsum(F.col("value")).alias("total_value"),
        )
    )
    with _drain_root("hmr_rocks_") as root:
        ckpt = root / "ckpt"
        d = _drain(agg.writeStream.format("memory").outputMode("complete"),
                   ckpt, conf=_ROCKS_CONF)
        changelog = any(
            fn.endswith(".changelog")
            for _root, _dirs, files in os.walk(ckpt / "state")
            for fn in files
        )
        n_batches = sum(
            1 for p in (ckpt / "commits").iterdir() if p.name.isdigit()
        )
    engaged = any(
        any(mk.startswith("rocksdb") for mk in (so.get("customMetrics") or {}))
        for p in d.progress
        for so in (p.get("stateOperators") or [])
    )
    return (
        d.table
        .select(
            "event_type",
            F.lit(bool(engaged)).alias("rocksdb_engaged"),
            F.lit(bool(changelog)).alias("changelog_present"),
            F.lit(int(n_batches)).cast("bigint").alias("n_batches"),
            "n", "total_value",
        )
        .orderBy("event_type")
    )


@query(
    "stream_rocksdb_restart",
    oracle="""
SELECT event_type,
       TRUE AS rocksdb_engaged,
       TRUE AS changelog_grew,
       COUNT(*) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    family=_FAM,
)
def stream_rocksdb_restart(spark, sf_dir):
    """RocksDB state-store RECOVERY across a query restart (r13 — the
    missing half of stream_rocksdb_state: that op proves the provider
    ENGAGES; this proves the CHANGELOG actually carries state through
    a stop/start, which is the entire reason changelog checkpointing
    exists — commit uploads the per-version delta, recovery replays
    deltas onto the last snapshot instead of re-reading raw input).
    The stream_incremental_restart scenario runs under RocksDB +
    changelog: drain half the files, STOP, add the other half, start a
    NEW query on the SAME checkpoint. The restarted query reads ONLY
    the new file (offsets from the checkpoint) yet its complete-mode
    aggregate covers ALL data — possible only if the keyed counts were
    recovered from the RocksDB changelog. Pinned evidence:
    ``rocksdb_engaged`` measured from BOTH runs' progress metrics and
    ``changelog_grew`` from the checkpoint's ``*.changelog`` census
    growing across the restart; the aggregate hash-checks against the
    all-events batch twin, so a recovery that lost or doubled any
    keyed count cannot pass.

    Scale: recovery cost is O(changelog deltas since last snapshot),
    not O(state) and never O(raw input) — the property that bounds
    restart time for 100 TB-class streaming state."""
    import os

    h1, h2 = _event_halves(sf_dir)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    kind = _events_ts_kind(sf_dir)
    if kind == "nanos":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    with _drain_root("hmr_rocksr_") as root:
        src, ckpt = root / "src", root / "ckpt"
        src.mkdir()

        def n_changelogs() -> int:
            return sum(
                1 for _root, _d, files in os.walk(ckpt / "state")
                for fn in files if fn.endswith(".changelog")
            )

        def drain():
            raw = spark.readStream.schema(_events_schema(kind)).parquet(str(src))
            agg = raw.groupBy("event_type").agg(
                F.count("*").cast("bigint").alias("n")
            )
            d = _drain(agg.writeStream.format("memory").outputMode("complete"),
                       ckpt, conf=_ROCKS_CONF)
            engaged = any(
                any(mk.startswith("rocksdb")
                    for mk in (so.get("customMetrics") or {}))
                for p in d.progress
                for so in (p.get("stateOperators") or [])
            )
            return d.table, engaged

        shutil.copy(h1, src / "h1.parquet")
        _, eng1 = drain()          # run 1: half the data, state -> changelog
        c1 = n_changelogs()
        shutil.copy(h2, src / "h2.parquet")
        table, eng2 = drain()      # RESTART: reads only h2, recovers state
        c2 = n_changelogs()
        return (
            table
            .select(
                "event_type",
                F.lit(bool(eng1 and eng2)).alias("rocksdb_engaged"),
                F.lit(bool(c1 > 0 and c2 > c1)).alias("changelog_grew"),
                "n",
            )
            .orderBy("event_type")
            .localCheckpoint(eager=True)
        )


@query(
    "stream_state_eviction",
    oracle="""
WITH mx AS (
  SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 10 MINUTE AS wm FROM events
)
SELECT CAST(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
         AS window_start,
       event_type,
       TRUE AS rocksdb_engaged,
       TRUE AS rows_evicted,
       TRUE AS state_bounded,
       TRUE AS final_le_peak,
       COUNT(*) AS n
FROM events, mx
WHERE time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR
        <= mx.wm
GROUP BY 1, 2
ORDER BY 1, 2
""",
    family=_FAM,
)
def stream_state_eviction(spark, sf_dir):
    """WATERMARK-DRIVEN STATE EVICTION proof (r14 — VERDICT r13 item 3,
    the last untested streaming scale property: stream_watermark_late
    proves sealed-window EMISSION and the rocksdb ops prove the STORE,
    but nothing pinned that watermark advance actually REMOVES state.
    At 100 TB-class streams, unbounded state is the failure mode — a
    windowed aggregate that never evicts grows with stream lifetime,
    not with the open-window set). The stream_watermark_late append
    aggregate (1-hour tumbling windows x event_type behind a 10-minute
    watermark) drains the 4-batch time-ordered split under the ROCKSDB
    provider with changelog checkpointing; each batch advances the
    watermark ~a quarter of the event-time range, so sealed windows
    are emitted AND their state rows removed batch by batch.

    Pinned evidence, all MEASURED from lastProgress stateOperators
    (never asserted from config):
    - ``rocksdb_engaged``: rocksdb* keys in customMetrics;
    - ``rows_evicted``: sum(numRowsRemoved) > 0 — eviction happened;
    - ``state_bounded``: peak numRowsTotal < emitted sealed-window
      count — the store NEVER held the full window history (measured
      ~1 batch's window span: 852 peak vs 3 380 emitted at sf0.01);
    - ``final_le_peak``: the drain ends with no more state than its
      peak (final batch holds only the unsealed tail windows).
    The emitted aggregate itself stays hash-checked against the
    sealed-windows batch twin, so eviction that dropped a live window
    or double-emitted a sealed one cannot pass.

    Scale: state volume is O(open windows x keys), not O(stream
    lifetime) — the property this op certifies — and RocksDB bounds
    the open-window working set by disk, not heap, with changelog
    commits bounding per-batch upload to the delta."""
    s = _event_stream(spark, sf_dir)
    agg = (
        s.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window.start").alias("window_start"), "event_type", "n"
        )
    )
    d = _drain(agg.writeStream.format("memory").outputMode("append"),
               conf=_ROCKS_CONF)
    ops = [so for p in d.progress for so in (p.get("stateOperators") or [])]
    engaged = any(
        any(mk.startswith("rocksdb") for mk in (so.get("customMetrics") or {}))
        for so in ops
    )
    removed_total = sum(int(so.get("numRowsRemoved") or 0) for so in ops)
    totals = [int(so.get("numRowsTotal") or 0) for so in ops]
    # A provider failure can leave recentProgress with no stateOperators
    # rows; degrade to 0/0 so the pinned booleans fail the hash check
    # with readable values instead of a bare ValueError/IndexError.
    peak, final = (max(totals), totals[-1]) if totals else (0, 0)
    emitted = d.table
    n_sealed = emitted.count()
    return (
        emitted.select(
            "window_start", "event_type",
            F.lit(bool(engaged)).alias("rocksdb_engaged"),
            F.lit(removed_total > 0).alias("rows_evicted"),
            F.lit(peak < n_sealed).alias("state_bounded"),
            F.lit(final <= peak).alias("final_le_peak"),
            "n",
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "stream_session_timeout",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events
),
mx AS (SELECT MAX(t) - 10 * 60 * 1000000 AS wm FROM e),
s AS (
  SELECT user_id, t, v,
         CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t)
                > 30 * 60 * 1000000
              OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
              THEN 1 ELSE 0 END AS brk
  FROM e
),
g AS (
  SELECT user_id, t, v,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY t) AS sid
  FROM s
),
agg AS (
  SELECT user_id, MIN(t) AS session_start, MAX(t) AS session_last,
         COUNT(*) AS n_events, SUM(v) AS cents
  FROM g GROUP BY user_id, sid
)
SELECT a.user_id,
       CAST(a.session_start AS BIGINT) AS session_start,
       CAST(a.session_last AS BIGINT) AS session_last,
       TRUE AS timeout_fired,
       TRUE AS state_bounded,
       CAST(a.n_events AS BIGINT) AS n_events,
       CAST(a.cents AS BIGINT) AS cents
FROM agg a, mx
WHERE a.session_last + 30 * 60 * 1000000 <= mx.wm
   OR EXISTS (SELECT 1 FROM e WHERE e.user_id = a.user_id
              AND e.t > a.session_last)
ORDER BY user_id, session_start
""",
    family=_FAM,
)
def stream_session_timeout(spark, sf_dir):
    """EVENT-TIME-TIMEOUT sessionization via applyInPandasWithState
    (r14 — the last uncovered GroupStateTimeout mode: every prior
    custom-state op runs NoTimeout, and session_window covers only the
    BUILT-IN gap aggregate; the production sessionizer pattern is
    custom per-key state whose sessions CLOSE THEMSELVES when the
    watermark passes last-event + gap, with arbitrary session payload).
    Per user: a 30-minute-gap session kept as (start, last, n, cents)
    state; in-batch events extend or data-close sessions (emitting
    closed ones), ``state.setTimeoutTimestamp(last + gap)`` arms the
    timer, and the ``state.hasTimedOut`` branch emits + removes the
    session when the watermark passes it — the path the availableNow
    finalize batch drives for every user whose last session went
    quiet (measured: 14 of 15 user states removed in the final batch
    at sf0.001, 1 still open — inside the 10-minute watermark delay).

    The oracle replays the SEMANTICS, not the batch schedule: batch
    gap-sessionization per user, emitted iff closed by DATA (a later
    event exists for that user) or by TIMEOUT (last + gap ≤ final
    watermark = max(ts) − delay). Emission content is mechanism-
    independent — a session closed by timeout at batch b carries
    exactly the rows a data-close would — so the result hash-checks
    across engines even though the timeout FIRING schedule is an
    engine-internal detail. Pinned from stateOperators metrics:
    ``timeout_fired`` (numRowsRemoved > 0 — removals happen ONLY in
    the hasTimedOut branch) and ``state_bounded`` (peak numRowsTotal ≤
    distinct users: state is per-OPEN-session, never per-history).

    Scale: state volume is O(active users), cleanup is driven by the
    watermark (no scheduled jobs, no TTL scans); integer-cents session
    payload keeps sums exact and order-independent."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def sess(key, pdfs, state: GroupState):
        import pandas as pd

        gap = 30 * 60 * 1000000  # micros
        rows = []
        if state.hasTimedOut:
            st, last, n, cents = state.get
            rows.append((key[0], st, last, n, cents))
            state.remove()
        else:
            ev = pd.concat(list(pdfs)).sort_values("ts")
            ts = (ev["ts"].astype("int64") // 1000).astype("int64")
            import numpy as np

            x = ev["value"].to_numpy(dtype="float64") * 100.0
            # half-away-from-zero cents, matching oracle round(value*100)
            # (Series.round is banker's and diverges on exact halves).
            vals = np.where(
                x >= 0, np.floor(x + 0.5), -np.floor(-x + 0.5)
            ).astype("int64")
            if state.exists:
                st, last, n, cents = state.get
            else:
                st = last = n = cents = None
            for t, v in zip(ts, vals):
                t = int(t)
                if st is None:
                    st, last, n, cents = t, t, 0, 0
                elif t - last > gap:
                    rows.append((key[0], st, last, n, cents))
                    st, last, n, cents = t, t, 0, 0
                n += 1
                cents += int(v)
                last = t
            state.update((st, last, n, cents))
            state.setTimeoutTimestamp((last + gap) // 1000)  # millis
        if rows:
            yield pd.DataFrame(
                rows,
                columns=["user_id", "session_start", "session_last",
                         "n_events", "cents"],
            )

    s = _event_stream(spark, sf_dir).select("user_id", "ts", "value")
    out = (
        s.withWatermark("ts", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            sess,
            outputStructType=(
                "user_id long, session_start long, session_last long,"
                " n_events long, cents long"
            ),
            stateStructType="st long, last long, n long, cents long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    d = _drain(out.writeStream.format("memory").outputMode("append"),
               conf=_SHUFFLE8)
    ops = [so for p in d.progress for so in (p.get("stateOperators") or [])]
    removed = sum(int(so.get("numRowsRemoved") or 0) for so in ops)
    # zero micro-batches report no state operators: nothing was held
    peak = max((int(so.get("numRowsTotal") or 0) for so in ops), default=0)
    emitted = d.table
    n_users = emitted.select("user_id").distinct().count()
    return (
        emitted.select(
            "user_id", "session_start", "session_last",
            F.lit(removed > 0).alias("timeout_fired"),
            F.lit(peak <= n_users).alias("state_bounded"),
            "n_events", "cents",
        )
        .orderBy("user_id", "session_start")
    )
