"""Scans, sources, sinks (SURVEY.md §2.1).

The reference's storage surface is files-of-bytes (HDFS put/get); its
record readers turn bytes into rows. Our equivalents are Spark's native
readers — parquet (columnar, vectorized, pushdown), CSV/JSON with
explicit schemas (the MR-native delimited-text formats), and raw text
lines (the canonical `(offset, line)` record reader).

CSV/JSON/text fixtures are derived deterministically from the parquet
testdata into /tmp (testdata dirs are read-only); the DuckDB oracle
reads the same derived files, so the comparison exercises the full
serialize→scan→parse loop in both engines.
"""

from __future__ import annotations

import csv
import json
import os
import shutil
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql import types as T

from hdfs_mr_spark.io import table
from hdfs_mr_spark.registry import query

_FAM = "2.1 scans/sources/sinks"

FIXTURE_ROOT = Path("/tmp/hdfs_mr_spark_fixtures")
ORACLE_SF = "/root/testdata/sf0.01"  # t2 correctness scale (TESTDATA.md)


def _sf_fingerprint(sf_dir: str) -> str:
    """Content key for the fixture cache: name, size and mtime of every
    source parquet table, in sorted order. Regenerated testdata under the
    same path (any table, embeddings included) gets a fresh fixture dir
    instead of silently reusing stale derived stores (ADVICE r1)."""
    import hashlib

    h = hashlib.sha256()
    for p in sorted(Path(sf_dir).glob("*.parquet")):
        st = p.stat()
        h.update(f"{p.name}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:12]


def _fixture_dir(sf_dir: str) -> Path:
    d = FIXTURE_ROOT / f"{Path(sf_dir).name}-{_sf_fingerprint(sf_dir)}"
    d.mkdir(parents=True, exist_ok=True)
    return d


def _publish_store(build_fn, store: Path) -> Path:
    """Build-once atomic store publish: ``build_fn(tmp)`` writes the store
    into a pid-suffixed tmp sibling, a ``_built`` marker is touched, and one
    os.rename moves it into place, so readers see the whole store or none.
    If another session published first, its store is kept and ours is
    discarded; ``store`` itself is never deleted. The tmp dir never
    outlives the call, whether the build succeeds, loses the race or
    raises."""
    if (store / "_built").exists():
        return store
    tmp = store.parent / f"{store.name}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        build_fn(tmp)
        (tmp / "_built").touch()
        try:
            os.rename(tmp, store)
        except OSError:
            if not (store / "_built").exists():
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return store


def materialize_fixtures(sf_dir: str) -> dict[str, str]:
    """Derive csv/jsonl/text fixtures from the parquet tables (pure
    pyarrow+stdlib — no Spark dependency, deterministic ordering)."""
    import pyarrow.parquet as pq

    d = _fixture_dir(sf_dir)
    paths = {
        "csv": d / "customer.csv",
        "json": d / "events.jsonl",
        "text": d / "documents.txt",
    }
    if all(p.exists() for p in paths.values()):
        return {k: str(v) for k, v in paths.items()}

    cust = pq.read_table(f"{sf_dir}/customer.parquet").to_pylist()
    cust.sort(key=lambda r: r["c_custkey"])
    with open(paths["csv"], "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"])
        for r in cust:
            w.writerow(
                [r["c_custkey"], r["c_name"], r["c_nationkey"],
                 f"{r['c_acctbal']:.2f}", r["c_mktsegment"]]
            )

    ev = pq.read_table(
        f"{sf_dir}/events.parquet",
        columns=["event_id", "user_id", "event_type", "value"],
    ).to_pylist()
    ev.sort(key=lambda r: r["event_id"])
    with open(paths["json"], "w") as f:
        for r in ev:
            f.write(json.dumps(r, sort_keys=True) + "\n")

    docs = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]).to_pylist()
    docs.sort(key=lambda r: r["doc_id"])
    with open(paths["text"], "w") as f:
        for r in docs:
            f.write(r["text"].replace("\n", " ") + "\n")

    return {k: str(v) for k, v in paths.items()}


# Oracle strings reference the sf0.01 fixtures by static path; the
# query bodies and hdfs_mr_spark.oracles() write them (importing this
# module writes nothing).
_ORACLE_FIX = {k: str((_fixture_dir(ORACLE_SF) / p)) for k, p in
               {"csv": "customer.csv", "json": "events.jsonl", "text": "documents.txt"}.items()}


@query("scan_parquet", oracle="SELECT * FROM part", family=_FAM)
def scan_parquet(spark, sf_dir):
    """Typed columnar table scan — vectorized reader, pushdown-capable."""
    return table(spark, sf_dir, "part")


_CSV_SCHEMA = T.StructType(
    [
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_nationkey", T.IntegerType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_mktsegment", T.StringType()),
    ]
)


@query(
    "scan_csv",
    oracle=f"""
SELECT * FROM read_csv('{_ORACLE_FIX["csv"]}', header=true, columns={{
  'c_custkey':'BIGINT','c_name':'VARCHAR','c_nationkey':'INTEGER',
  'c_acctbal':'DOUBLE','c_mktsegment':'VARCHAR'}})
""",
    family=_FAM,
)
def scan_csv(spark, sf_dir):
    """Schema-pinned CSV scan — the MR-native delimited-text record reader.

    Reads the ORACLE_SF-derived fixture regardless of ``sf_dir``: the
    oracle SQL is a static string (driver contract), so both engines must
    scan the same file; the query checks the serialize→parse loop, not
    scale.
    """
    path = materialize_fixtures(ORACLE_SF)["csv"]
    return spark.read.csv(path, header=True, schema=_CSV_SCHEMA)


_JSON_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@query(
    "scan_json",
    oracle=f"""
SELECT event_id, event_type, user_id, value
FROM read_json('{_ORACLE_FIX["json"]}', format='newline_delimited', columns={{
  'event_id':'BIGINT','event_type':'VARCHAR','user_id':'BIGINT','value':'DOUBLE'}})
""",
    family=_FAM,
)
def scan_json(spark, sf_dir):
    """JSON-lines ingest with explicit schema (semi-structured path).
    Fixture pinned to ORACLE_SF — see scan_csv."""
    path = materialize_fixtures(ORACLE_SF)["json"]
    return spark.read.json(path, schema=_JSON_SCHEMA).select(
        "event_id", "event_type", "user_id", "value"
    )


@query(
    "scan_text",
    oracle=f"""
SELECT * FROM read_csv('{_ORACLE_FIX["text"]}', delim='\\t', quote='', header=false,
                       columns={{'value':'VARCHAR'}})
""",
    family=_FAM,
)
def scan_text(spark, sf_dir):
    """Raw text-line scan — the `(offset, line)` record-reader analogue.
    Fixture pinned to ORACLE_SF — see scan_csv."""
    path = materialize_fixtures(ORACLE_SF)["text"]
    return spark.read.text(path)


@query(
    "sink_parquet",
    oracle="SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang ORDER BY lang",
    family=_FAM,
)
def sink_parquet(spark, sf_dir):
    """Partitioned parquet write + re-read — the MR "one output dir, N part
    files" sink, upgraded to hive-style partition pruning. The re-read
    aggregate is oracle-checked, so the round trip must be lossless."""
    out = str(_fixture_dir(sf_dir) / "sink_documents.parquet")
    docs = table(spark, sf_dir, "documents")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)
    return (
        spark.read.parquet(out)
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang")
    )


def _materialize_blobs(spark, sf_dir: str) -> str:
    """The HDFS "put" side shared by scan_binaryfile and scan_ls: 64
    deterministic one-per-doc blob files (content = sha256 hex of the
    doc text). Bounded 64-row collect; fixture dir is content-keyed via
    _fixture_dir so regenerated testdata rewrites it."""
    out = _fixture_dir(sf_dir) / "blobs"
    if not out.exists():  # deterministic content — write once per fingerprint
        docs = (
            table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 64)
            .select("doc_id", F.sha2("text", 256).alias("payload"))
        )
        out.mkdir(parents=True, exist_ok=True)
        for r in docs.collect():  # bounded: 64 rows; the "put" side
            (out / f"{r['doc_id']:08d}.bin").write_bytes(r["payload"].encode())
    return str(out)


@query(
    "scan_binaryfile",
    oracle="""
SELECT doc_id,
       CAST(64 AS BIGINT) AS length,
       sha256(sha256(text)) AS content_sha
FROM documents
WHERE doc_id < 64
ORDER BY doc_id
""",
    family=_FAM,
)
def scan_binaryfile(spark, sf_dir):
    """HDFS put/get analogue: write opaque binary payloads as individual
    files (put), re-ingest them with the `binaryFile` source (get — one
    row per file: path, length, raw bytes), and prove the round trip by
    content checksum. Payload text is the 64-char sha256 hex of each
    doc (deterministic), so the oracle derives the expected checksums
    straight from the documents table (DuckDB's sha256 hashes VARCHAR,
    hence string payloads rather than raw blobs). At 100 TB this is the
    multimodal-ingest path: millions of small blobs read
    partition-parallel without any custom FS layer."""
    files = spark.read.format("binaryFile").load(_materialize_blobs(spark, sf_dir))
    return (
        files.select(
            F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.col("length"),
            F.sha2(F.col("content"), 256).alias("content_sha"),
        )
        .orderBy("doc_id")
    )


@query(
    "scan_orc",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
    family=_FAM,
)
def scan_orc(spark, sf_dir):
    """ORC round trip — the second columnar format Spark ships a
    vectorized, predicate-pushing reader for. Write orders to ORC,
    re-read, aggregate; the oracle computes the same aggregate from the
    original parquet, so the check proves the ORC write+scan is
    lossless. Integer-only measures keep the comparison exact."""
    out_p = _fixture_dir(sf_dir) / "orders.orc"
    out = str(out_p)
    # write once per sf (source data is immutable): keeps plan-enumeration
    # passes (tests, explain sweeps) from paying the write repeatedly
    if not (out_p / "_SUCCESS").exists():
        table(spark, sf_dir, "orders").write.mode("overwrite").orc(out)
    return (
        spark.read.orc(out)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "scan_partition_pruned",
    oracle="""
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents WHERE lang IN ('en', 'de')
GROUP BY source ORDER BY source
""",
    family=_FAM,
)
def scan_partition_pruned(spark, sf_dir):
    """Static partition pruning: documents written hive-partitioned by
    lang, then read with a partition-key predicate — the scan touches
    only the en/de directories (explain shows the pruning in
    PartitionFilters; tests/test_plans.py locks it). At 100 TB this is
    THE dominant cost lever: a date/lang-partitioned lake turns most
    queries into partial scans before a single byte is read."""
    out_p = _fixture_dir(sf_dir) / "docs_by_lang.parquet"
    out = str(out_p)
    if not (out_p / "_SUCCESS").exists():  # write once per sf (immutable source)
        table(spark, sf_dir, "documents").write.mode("overwrite").partitionBy(
            "lang"
        ).parquet(out)
    return (
        spark.read.parquet(out)
        .filter(F.col("lang").isin("en", "de"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("source")
    )


@query(
    "scan_ls",
    oracle="""
SELECT printf('%08d.bin', doc_id) AS name,
       CAST(64 AS BIGINT) AS size,
       sha256(sha256(text)) AS checksum
FROM documents
WHERE doc_id < 64
ORDER BY name
""",
    family=_FAM,
)
def scan_ls(spark, sf_dir):
    """HDFS-client `ls -l` analogue (VERDICT r1 "what's missing" 1): list
    a written file tree as rows — name, size, content checksum — through
    the binaryFile source, no custom FS layer. The oracle derives the
    expected listing straight from the documents table, so the check
    proves the put/list round trip byte-for-byte. At 100 TB this is the
    manifest/audit primitive: a partition-parallel listing join against
    the catalog's expectation."""
    files = spark.read.format("binaryFile").load(_materialize_blobs(spark, sf_dir))
    return (
        files.select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("name"),
            F.col("length").alias("size"),
            F.sha2(F.col("content"), 256).alias("checksum"),
        )
        .orderBy("name")
    )


_SINK_CSV_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_custkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderpriority", T.StringType()),
    ]
)


@query(
    "sink_csv",
    oracle="""
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n,
       (CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,2))) * 100
             AS DECIMAL(38,0)) AS DOUBLE) / 100.0) AS total_price
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
    family=_FAM,
)
def sink_csv(spark, sf_dir):
    """Partitioned CSV write + re-read — the MR class's native text
    output format (one output dir, N part files), missing from round 1
    (VERDICT "what's missing" 3). Doubles survive the text round trip
    bit-for-bit (Spark writes shortest round-trip repr), which the
    decimal-exact aggregate against the ORIGINAL parquet proves."""
    out = str(_fixture_dir(sf_dir) / "sink_orders_csv")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority",
    )
    o.write.mode("overwrite").option("header", True).csv(out)
    from hdfs_mr_spark.exprs import dsum

    return (
        spark.read.csv(out, header=True, schema=_SINK_CSV_SCHEMA)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            dsum(F.col("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


_SINK_JSON_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


@query(
    "sink_json",
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       (CAST(CAST(SUM(CAST(value AS DECIMAL(38,8))) * 100000000
             AS DECIMAL(38,0)) AS DOUBLE) / 100000000.0) AS total_value
FROM events GROUP BY event_type ORDER BY event_type
""",
    family=_FAM,
)
def sink_json(spark, sf_dir):
    """JSON-lines write + re-read — the second text sink (semi-structured
    path). Same lossless-round-trip proof as sink_csv: the re-read
    aggregate must hash-match the oracle computed on the source
    parquet."""
    out = str(_fixture_dir(sf_dir) / "sink_events_json")
    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    ev.write.mode("overwrite").json(out)
    from hdfs_mr_spark.exprs import dsum

    return (
        spark.read.json(out, schema=_SINK_JSON_SCHEMA)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            dsum(F.col("value")).alias("total_value"),
        )
        .orderBy("event_type")
    )


@query(
    "scan_multipath",
    oracle="""
SELECT src_sf, CAST(COUNT(*) AS BIGINT) AS n, MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key
FROM (
  SELECT 'sf0.001' AS src_sf, o_orderkey
  FROM '/root/testdata/sf0.001/orders.parquet'
  UNION ALL
  SELECT 'sf0.01' AS src_sf, o_orderkey
  FROM '/root/testdata/sf0.01/orders.parquet'
)
GROUP BY src_sf ORDER BY src_sf
""",
    family=_FAM,
)
def scan_multipath(spark, sf_dir):
    """Multi-path scan: one reader over several directories (the MR
    multi-input-path job / lake "read every daily partition" shape),
    with input_file_name-derived provenance column. Paths are pinned
    (the oracle SQL is a static string): the point is the N-paths-one-
    scan plumbing, not scale."""
    df = spark.read.parquet(
        "/root/testdata/sf0.001/orders.parquet",
        "/root/testdata/sf0.01/orders.parquet",
    )
    src = F.regexp_extract(F.input_file_name(), r"(sf[0-9.]+)/orders", 1)
    return (
        df.select(src.alias("src_sf"), "o_orderkey")
        .groupBy("src_sf")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("src_sf")
    )


@query(
    "sink_compaction",
    oracle="""
SELECT 'after' AS phase, CAST(4 AS BIGINT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM documents
UNION ALL
SELECT 'before', 32, COUNT(*) FROM documents
ORDER BY phase
""",
    family=_FAM,
)
def sink_compaction(spark, sf_dir):
    """Small-files compaction — the lake-maintenance job every long-lived
    dataset needs (a 100 TB table ingested in tiny micro-batches decays
    into millions of files; scan cost is then dominated by file-open
    overhead, not bytes): write documents fragmented into 32 part files,
    compact by rewriting at repartition(4), and report (phase, file
    count, row count) from the actual directory listings. The oracle
    pins both file counts and proves the rewrite is lossless."""
    frag = str(_fixture_dir(sf_dir) / "compact_in.parquet")
    comp = str(_fixture_dir(sf_dir) / "compact_out.parquet")
    docs = table(spark, sf_dir, "documents")
    docs.repartition(32).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(comp)

    def listing(path, phase):
        files = spark.read.format("binaryFile").load(path + "/*.parquet")
        rows = spark.read.parquet(path)
        return (
            files.agg(F.count("*").cast("bigint").alias("n_files"))
            .crossJoin(rows.agg(F.count("*").cast("bigint").alias("n_rows")))
            .select(F.lit(phase).alias("phase"), "n_files", "n_rows")
        )

    return listing(frag, "before").union(listing(comp, "after")).orderBy("phase")


@query(
    "scan_schema_evolution",
    oracle="""
WITH v1 AS (
  SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 2 = 0
),
v2 AS (SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 1),
merged AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(n_chars) AS BIGINT) AS n_with_chars,
       CAST(SUM(COALESCE(n_chars, 0)) AS BIGINT) AS chars_total
FROM merged GROUP BY lang ORDER BY lang
""",
    family=_FAM,
)
def scan_schema_evolution(spark, sf_dir):
    """Schema evolution across parquet generations — the lake-drift
    reality: v1 files written before a column existed, v2 files after.
    `mergeSchema=true` unions the footers so old files surface the new
    column as NULL (per-file schema reconciliation at the scan, no
    rewrite of petabytes of v1 data — the whole point at 100 TB; the
    flag costs a footer pass, which is why it's off by default and
    enabled here explicitly). The aggregate pins both generations:
    COUNT(n_chars) counts only v2 rows, COUNT(*) both."""
    base = _fixture_dir(sf_dir)
    p1 = str(base / "evolve_v1.parquet")
    p2 = str(base / "evolve_v2.parquet")
    d = table(spark, sf_dir, "documents")
    d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.mode(
        "overwrite"
    ).parquet(p1)
    d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "lang", "n_chars").write.mode(
        "overwrite"
    ).parquet(p2)
    merged = spark.read.option("mergeSchema", "true").parquet(p1, p2)
    return (
        merged.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count("n_chars").cast("bigint").alias("n_with_chars"),
            F.sum(F.coalesce(F.col("n_chars"), F.lit(0)))
            .cast("bigint")
            .alias("chars_total"),
        )
        .orderBy("lang")
    )


@query(
    "scan_csv_malformed",
    oracle="""
SELECT CAST(COUNT(*) FILTER (WHERE doc_id % 7 <> 0) AS BIGINT) AS n_good,
       CAST(COUNT(*) FILTER (WHERE doc_id % 7 = 0) AS BIGINT) AS n_corrupt,
       CAST(SUM(n_chars) FILTER (WHERE doc_id % 7 <> 0) AS BIGINT) AS chars_good
FROM documents
""",
    family=_FAM,
)
def scan_csv_malformed(spark, sf_dir):
    """Malformed-record handling on text ingestion — the reality of any
    100 TB crawl/log corpus (truncated lines, encoding garbage, schema
    drift). A CSV fixture is derived from `documents` with every 7th
    row deliberately mangled; the PERMISSIVE reader (the only mode that
    scales — FAILFAST kills a 10^5-task job for one bad line,
    DROPMALFORMED silently lies about row counts) lands unparseable
    lines in `_corrupt_record` with NULL data columns. The aggregate
    pins good rows, quarantined rows, and that good-row payloads
    survived intact. The frame is cached before touching
    `_corrupt_record` (Spark forbids filtering a lazily-derived
    corrupt-record column alone — documented engine behavior)."""
    out = _fixture_dir(sf_dir) / "malformed.csv"
    if not (out / "_DONE").exists():
        import pyarrow.parquet as pq

        tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "n_chars"])
        rows = sorted(zip(tbl["doc_id"].to_pylist(), tbl["n_chars"].to_pylist()))
        out.mkdir(parents=True, exist_ok=True)
        with open(out / "part-00000.csv", "w") as f:
            for did, nch in rows:
                if did % 7 == 0:
                    f.write(f"GARBAGE<<{did}>>unparseable\n")
                else:
                    f.write(f"{did},{nch}\n")
        (out / "_DONE").touch()
    df = (
        spark.read.schema("doc_id BIGINT, n_chars BIGINT, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(out / "part-00000.csv"))
        .cache()
    )
    return df.agg(
        F.count_if(F.col("_corrupt_record").isNull()).cast("bigint").alias("n_good"),
        F.count_if(F.col("_corrupt_record").isNotNull())
        .cast("bigint")
        .alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("n_chars")))
        .cast("bigint")
        .alias("chars_good"),
    )


@query(
    "sink_dynamic_overwrite",
    oracle="""
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN lang = 'en' THEN n_chars + 1000 ELSE n_chars END)
            AS BIGINT) AS chars_total
FROM documents GROUP BY lang ORDER BY lang
""",
    family=_FAM,
)
def sink_dynamic_overwrite(spark, sf_dir):
    """Dynamic partition overwrite — the idempotent-backfill primitive:
    rewriting one day/language of a 100 TB partitioned table must
    replace ONLY the partitions present in the incoming frame, never
    truncate siblings (static overwrite mode's default behavior, the
    classic data-loss footgun). A lang-partitioned tree is written,
    then just the 'en' partition is rewritten (n_chars + 1000) under
    partitionOverwriteMode=dynamic; the re-read aggregate proves 'en'
    changed and every other partition survived byte-identical."""
    base = str(_fixture_dir(sf_dir) / "dyn_overwrite.parquet")
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    d.write.mode("overwrite").partitionBy("lang").parquet(base)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            d.filter(F.col("lang") == "en")
            .withColumn("n_chars", F.col("n_chars") + 1000)
            .write.mode("overwrite")
            .partitionBy("lang")
            .parquet(base)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = spark.read.parquet(base)
    return (
        back.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("chars_total"),
        )
        .orderBy("lang")
    )


@query(
    "scan_python_datasource",
    oracle="""
WITH synth AS (
  SELECT i AS id, (i * 2654435761) % 1000000007 AS val
  FROM range(0, 1000) t(i)
)
SELECT CAST(id % 4 AS BIGINT) AS part,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(val) AS BIGINT) AS val_sum,
       MIN(val) AS val_min,
       MAX(val) AS val_max
FROM synth GROUP BY id % 4 ORDER BY part
""",
    family=_FAM,
)
def scan_python_datasource(spark, sf_dir):
    """Custom connector via Spark 4's Python Data Source API — the
    literal analogue of writing a custom Hadoop InputFormat, the MR
    extension point for "my data lives somewhere your readers don't
    speak". The source plans its own InputPartitions (4 here, honored
    1:1 as Spark partitions — split planning lives in the connector,
    exactly like InputFormat.getSplits) and each task materializes only
    its own split; rows are Knuth-hash synthetics so the DuckDB twin
    regenerates the identical set from range(). At scale the partition
    count comes from the remote system's natural sharding; no driver-
    side materialization ever happens."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class SynthReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(i) for i in range(4)]

        def read(self, part):
            # Rows interleave across partitions by id % 4 so the split
            # key is visible in the result (id ranges would also work).
            for i in range(part.value, 1000, 4):
                yield (i, (i * 2654435761) % 1000000007)

    class SynthSource(DataSource):
        @classmethod
        def name(cls):
            return "hdfs_mr_synth"

        def schema(self):
            return "id bigint, val bigint"

        def reader(self, schema):
            return SynthReader()

    spark.dataSource.register(SynthSource)
    df = spark.read.format("hdfs_mr_synth").load()
    return (
        df.groupBy((F.col("id") % 4).cast("bigint").alias("part"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("val").cast("bigint").alias("val_sum"),
            F.min("val").alias("val_min"),
            F.max("val").alias("val_max"),
        )
        .orderBy("part")
    )


@query(
    "scan_range_source",
    oracle="""
WITH g AS (
  SELECT range AS id,
         (range * range) % 1000003 AS x,
         ('0x' || substr(md5(CAST(range AS VARCHAR)), 1, 10))::BIGINT AS h
  FROM range(0, 100000)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(id) AS BIGINT) AS id_sum,
       CAST(SUM(x) AS BIGINT) AS x_sum,
       CAST(COUNT(DISTINCT x) AS BIGINT) AS x_distinct,
       CAST(SUM(h) AS BIGINT) AS content_checksum
FROM g
""",
    family=_FAM,
)
def scan_range_source(spark, sf_dir):
    """Parallel synthetic-data source: `spark.range` generates the rows
    ON the executors (16 partitions, no input files, no driver
    materialization) — the benchmark-generator / backfill-spine source
    every MR shop reimplements as a 'teragen' job. Derived columns are
    pure integer/hash functions of the id, so the aggregate fingerprint
    (sums, distinct count, md5-derived checksum) is engine-exact and
    proves the generated content, not just its cardinality.

    Scale: generation is embarrassingly parallel and zero-I/O;
    partition count is the only knob (one Range split per task)."""
    g = spark.range(0, 100000, 1, 16).select(
        F.col("id"),
        ((F.col("id") * F.col("id")) % 1000003).alias("x"),
        F.expr(
            "CAST(conv(substr(md5(CAST(id AS STRING)), 1, 10), 16, 10)"
            " AS BIGINT)"
        ).alias("h"),
    )
    return g.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("id").cast("bigint").alias("id_sum"),
        F.sum("x").cast("bigint").alias("x_sum"),
        F.countDistinct("x").cast("bigint").alias("x_distinct"),
        F.sum("h").cast("bigint").alias("content_checksum"),
    )


@query(
    "sink_zorder_cluster",
    oracle="""
WITH coded AS (
  SELECT l_partkey % 1024 AS x, l_suppkey % 1024 AS y,
         (((l_partkey % 1024) >> 0 & 1) << 0) | (((l_suppkey % 1024) >> 0 & 1) << 1)
       | (((l_partkey % 1024) >> 1 & 1) << 2) | (((l_suppkey % 1024) >> 1 & 1) << 3)
       | (((l_partkey % 1024) >> 2 & 1) << 4) | (((l_suppkey % 1024) >> 2 & 1) << 5)
       | (((l_partkey % 1024) >> 3 & 1) << 6) | (((l_suppkey % 1024) >> 3 & 1) << 7)
       | (((l_partkey % 1024) >> 4 & 1) << 8) | (((l_suppkey % 1024) >> 4 & 1) << 9)
       | (((l_partkey % 1024) >> 5 & 1) << 10) | (((l_suppkey % 1024) >> 5 & 1) << 11)
       | (((l_partkey % 1024) >> 6 & 1) << 12) | (((l_suppkey % 1024) >> 6 & 1) << 13)
       | (((l_partkey % 1024) >> 7 & 1) << 14) | (((l_suppkey % 1024) >> 7 & 1) << 15)
       | (((l_partkey % 1024) >> 8 & 1) << 16) | (((l_suppkey % 1024) >> 8 & 1) << 17)
       | (((l_partkey % 1024) >> 9 & 1) << 18) | (((l_suppkey % 1024) >> 9 & 1) << 19)
         AS z
  FROM lineitem
)
SELECT CAST(z >> 14 AS BIGINT) AS zbucket,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(x) AS BIGINT) AS x_min, CAST(MAX(x) AS BIGINT) AS x_max,
       CAST(MIN(y) AS BIGINT) AS y_min, CAST(MAX(y) AS BIGINT) AS y_max,
       CAST((MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS BIGINT)
         AS bbox_area
FROM coded
GROUP BY z >> 14
""",
    family=_FAM,
)
def sink_zorder_cluster(spark, sf_dir):
    """Z-order (Morton-curve) clustered write — what Delta/Iceberg
    OPTIMIZE ZORDER does, expressed relationally: interleave the bits of
    the two filter columns, bucket rows by the code's high bits, write
    one partition directory per bucket, and audit each bucket's (x, y)
    bounding box from the files actually re-read. Z-ordering makes BOTH
    columns selective at the file level — each bucket covers a small
    2-D tile (bbox_area ~= 1024^2 / nbuckets) instead of a full-range
    stripe, so a predicate on either column prunes most files by
    min/max stats alone; a 1-D sort gives that for one column only.

    Determinism: bucket boundaries are fixed bit prefixes of the code —
    a pure per-row function (NOT sampled range partitioning, which is
    plan-instance-dependent) — so the oracle recomputes the identical
    layout and the bbox audit proves tile locality, not just row
    conservation."""
    out = str(_fixture_dir(sf_dir) / "zorder_lineitem.parquet")
    li = table(spark, sf_dir, "lineitem")
    x = (F.col("l_partkey") % 1024).alias("x")
    y = (F.col("l_suppkey") % 1024).alias("y")
    z = sum(
        (
            F.shiftleft(F.shiftright(F.col("x"), i).bitwiseAND(F.lit(1)), 2 * i)
            + F.shiftleft(
                F.shiftright(F.col("y"), i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
            for i in range(10)
        ),
        F.lit(0),
    )
    coded = li.select(x, y).select(
        "x", "y", z.alias("z")
    ).withColumn("zbucket", F.expr("CAST(z >> 14 AS BIGINT)"))
    coded.write.mode("overwrite").partitionBy("zbucket").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("zbucket").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("x").cast("bigint").alias("x_min"),
        F.max("x").cast("bigint").alias("x_max"),
        F.min("y").cast("bigint").alias("y_min"),
        F.max("y").cast("bigint").alias("y_max"),
        (
            (F.max("x") - F.min("x") + 1) * (F.max("y") - F.min("y") + 1)
        ).cast("bigint").alias("bbox_area"),
    )


@query(
    "sink_compression_codecs",
    oracle="""
SELECT codec,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       (CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,8))) * 100000000 AS DECIMAL(38,0)) AS DOUBLE) / 100000000.0) AS sum_price
FROM lineitem, (SELECT unnest(['gzip', 'snappy', 'zstd']) AS codec)
GROUP BY codec
ORDER BY codec
""",
    family=_FAM,
)
def sink_compression_codecs(spark, sf_dir):
    """Compression-codec round trip: the same table written as gzip,
    snappy, and zstd parquet, each re-read and aggregated — the codec
    choice every storage layer has to prove lossless before it becomes
    a fleet default (zstd ~halves gzip CPU at similar ratio; snappy
    trades size for speed — the SIZES are environment-dependent so only
    content equality is oracle-checked, per codec). At 100 TB the same
    three writes are how a migration A/B is actually validated: full
    content hash per codec, not a sample."""
    from hdfs_mr_spark.exprs import dsum

    li = table(spark, sf_dir, "lineitem").select("l_extendedprice")
    outs = []
    for codec in ("gzip", "snappy", "zstd"):
        out = str(_fixture_dir(sf_dir) / f"sink_codec_{codec}.parquet")
        li.write.mode("overwrite").option("compression", codec).parquet(out)
        outs.append(
            spark.read.parquet(out)
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                dsum(F.col("l_extendedprice")).alias("sum_price"),
            )
            .select(F.lit(codec).alias("codec"), "n_rows", "sum_price")
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res.orderBy("codec")


def materialize_xml(sf_dir: str) -> str:
    """Derive supplier.xml from the parquet testdata (deterministic
    order, entity-escaped, acctbal serialized as exact integer cents —
    float repr is engine-specific, cents round-trip bit-exact)."""
    import decimal

    import pyarrow.parquet as pq
    from xml.sax.saxutils import escape

    def _cents(v: float) -> int:
        # SQL round() semantics: half away from zero, evaluated on the
        # EXACT binary value of v*100 (Decimal(float) is exact), for
        # BOTH signs — int(x+0.5) truncates toward zero and silently
        # mis-rounds negative acctbals by one cent (caught by the r10
        # full sweep after a testdata regeneration surfaced a negative
        # half case; python round() is banker's and also wrong)
        return int(
            decimal.Decimal(v * 100).quantize(
                0, rounding=decimal.ROUND_HALF_UP
            )
        )

    path = _fixture_dir(sf_dir) / "supplier.xml"
    if not path.exists():
        rows = pq.read_table(f"{sf_dir}/supplier.parquet").to_pylist()
        rows.sort(key=lambda r: r["s_suppkey"])
        with open(path, "w") as f:
            f.write("<suppliers>\n")
            for r in rows:
                f.write(
                    "  <supplier>"
                    f"<s_suppkey>{r['s_suppkey']}</s_suppkey>"
                    f"<s_name>{escape(r['s_name'])}</s_name>"
                    f"<s_nationkey>{r['s_nationkey']}</s_nationkey>"
                    f"<acctbal_cents>{_cents(r['s_acctbal'])}</acctbal_cents>"
                    "</supplier>\n"
                )
            f.write("</suppliers>\n")
    return str(path)



@query(
    "scan_xml",
    oracle="""
SELECT s_suppkey, s_name, CAST(s_nationkey AS INTEGER) AS s_nationkey,
       CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_cents
FROM supplier
ORDER BY s_suppkey
""",
    family=_FAM,
)
def scan_xml(spark, sf_dir):
    """Native XML source (Spark 4's donated spark-xml): the supplier
    table serialized to entity-escaped XML (deterministically from the
    parquet testdata, money as exact integer cents since float repr is
    engine-specific), read back via format('xml') rowTag=supplier with
    an EXPLICIT schema — schema inference on XML samples the whole
    file. DuckDB has no XML reader, so the oracle is the parquet
    original: agreement proves the serialize -> XML-parse loop loses
    nothing, the same roundtrip contract as the csv/json scans.

    Scale: XML is the slowest of the text formats (per-record tag
    soup, no vectorized reader) — the op exists because feeds arrive
    as XML, not because anyone should store it; first job in a real
    DAG rewrites to parquet (sink_parquet)."""
    path = materialize_xml(sf_dir)
    schema = T.StructType([
        T.StructField("s_suppkey", T.LongType()),
        T.StructField("s_name", T.StringType()),
        T.StructField("s_nationkey", T.IntegerType()),
        T.StructField("acctbal_cents", T.LongType()),
    ])
    return (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema(schema)
        .load(path)
        .orderBy("s_suppkey")
    )


@query(
    "fn_xml",
    oracle="""
WITH x AS (
  SELECT o_orderkey,
         '<o><k>' || o_orderkey || '</k><p>' || o_orderpriority
           || '</p><t>' || CAST(round(o_totalprice * 100) AS BIGINT)
           || '</t></o>' AS doc
  FROM orders
)
SELECT o_orderkey,
       CAST(regexp_extract(doc, '<k>([0-9]+)</k>', 1) AS BIGINT) AS xml_key,
       regexp_extract(doc, '<p>([^<]*)</p>', 1) AS xml_priority,
       CAST(regexp_extract(doc, '<t>([0-9]+)</t>', 1) AS BIGINT) AS xml_cents
FROM x
ORDER BY o_orderkey
""",
    family="2.8 scalar functions",
)
def fn_xml(spark, sf_dir):
    """XML scalar functions (Spark 4 from_xml + xpath family) — the
    semi-structured parse surface next to fn_json: each order row is
    serialized to an XML fragment, then parsed BACK with from_xml
    using an explicit struct schema (key, priority, cents); every 20th
    row additionally sources the priority from xpath_string so the
    query-driven API stays in the hashed output as a cross-check
    against the schema-driven parse (a disagreement mismatches the
    regex oracle on those rows). One JVM XML parse per row plus a 5%
    xpath slice — the earlier form parsed every row TWICE (from_xml +
    xpath), the registry's slowest query at 16 s/sf0.1 for pure
    cross-check redundancy (VERDICT r5 item 5). The DuckDB oracle
    extracts the same fields with regexes from the
    identically-constructed string. Values stay integer/string (cents
    for money) so no float formatting enters the XML.

    Scale: pure per-row projections — codegen'd concat, one JVM XML
    parse per row, no shuffle except the presentation sort — fan_out'ed
    first (r15-opt): the single-file orders fixture otherwise runs the
    per-row parse chain on ONE task (the r13 fn_geohash lesson)."""
    from hdfs_mr_spark.io import fan_out

    o = fan_out(table(spark, sf_dir, "orders"))
    doc = F.concat(
        F.lit("<o><k>"), F.col("o_orderkey").cast("string"),
        F.lit("</k><p>"), F.col("o_orderpriority"),
        F.lit("</p><t>"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
        F.lit("</t></o>"),
    )
    x = o.select("o_orderkey", doc.alias("doc"))
    parsed = x.select(
        "o_orderkey",
        "doc",
        F.from_xml("doc", "k BIGINT, p STRING, t BIGINT").alias("p"),
    )
    return parsed.select(
        "o_orderkey",
        F.col("p.k").alias("xml_key"),
        # conditional branch evaluates lazily per row: xpath runs on the
        # 5% slice only, yet lands in the value hash for those rows
        F.when(
            F.col("o_orderkey") % 20 == 0,
            F.xpath_string("doc", F.lit("/o/p")),
        ).otherwise(F.col("p.p")).alias("xml_priority"),
        F.col("p.t").alias("xml_cents"),
    ).orderBy("o_orderkey")


@query(
    "sink_python_datasource",
    oracle="""
WITH src AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 7 = 0
)
SELECT CAST(4 AS INTEGER) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS cents_sum,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM src
""",
    family=_FAM,
)
def sink_python_datasource(spark, sf_dir):
    """Custom SINK via Spark 4's Python Data Source WRITER API — the
    OutputFormat half of the connector story (scan_python_datasource is
    the InputFormat half), with the REAL two-phase commit protocol a
    distributed sink needs: each task writes its rows to a
    task-private temp file and returns a commit message; only the
    DRIVER's commit() renames temps into place (and abort() deletes
    them), so readers never observe a torn write and a speculative /
    retried task can never double-publish — the FileOutputCommitter
    discipline, expressed through the Python API. The payload is
    JSON-lines (a format the engine's own sinks don't emit natively,
    i.e. a genuine foreign system), and the query READS THE SINK BACK
    and aggregates, so the hash check covers the full write -> commit
    -> re-read loop, not just the write call returning.

    Scale: one temp file + one rename per task regardless of row
    count; commit is O(#tasks) driver work, the same contract object
    stores give multipart uploads. Fixed repartition(4) makes the
    committed file count part of the hashed output."""
    import json
    import os
    import shutil
    import tempfile
    import uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    out_dir = os.path.join(
        tempfile.gettempdir(), f"hmr_pyds_sink_{uuid.uuid4().hex}"
    )
    os.makedirs(out_dir, exist_ok=True)

    class JlMsg(WriterCommitMessage):
        def __init__(self, tmp_name):
            self.tmp_name = tmp_name

    class JlWriter(DataSourceWriter):
        def __init__(self, path):
            self.path = path

        def write(self, rows):
            import json as _json
            import os as _os
            import uuid as _uuid

            tmp = _os.path.join(self.path, f"_tmp_{_uuid.uuid4().hex}.jsonl")
            with open(tmp, "w") as fh:
                for r in rows:
                    fh.write(
                        _json.dumps(
                            {"o_orderkey": r[0], "cents": r[1]}
                        ) + "\n"
                    )
            return JlMsg(tmp)

        def commit(self, messages):
            import os as _os

            for i, m in enumerate(sorted(messages, key=lambda m: m.tmp_name)):
                _os.replace(
                    m.tmp_name,
                    _os.path.join(self.path, f"part-{i:05d}.jsonl"),
                )
            # A failed/retried task attempt leaves an orphan temp that is
            # not in `messages` (only the winning attempt's message reaches
            # the driver); abort() never runs for it because the JOB
            # succeeded. Such temps are by-construction uncommitted attempts
            # — delete them here, exactly as FileOutputCommitter discards
            # non-committed attempt directories on job commit. A zombie
            # attempt can still write AFTER this scan, so re-scan and WARN
            # (ADVICE r9: keep the commit-discipline invariant observable
            # instead of silently dropping it); readers skip _-prefixed
            # files either way.
            for f in _os.listdir(self.path):
                if f.startswith("_tmp_"):
                    try:
                        _os.remove(_os.path.join(self.path, f))
                    except OSError:
                        pass
            leftovers = [
                f for f in _os.listdir(self.path) if f.startswith("_tmp_")
            ]
            if leftovers:
                import warnings as _warnings

                _warnings.warn(
                    "sink_python_datasource: %d orphan temp(s) persisted "
                    "after job-commit cleanup (zombie task attempts): %s"
                    % (len(leftovers), leftovers[:4]),
                    stacklevel=2,
                )

        def abort(self, messages):
            import os as _os

            for m in messages:
                try:
                    _os.remove(m.tmp_name)
                except OSError:
                    pass

    class JlSink(DataSource):
        @classmethod
        def name(cls):
            return "hdfs_mr_jsonl_sink"

        def schema(self):
            return "o_orderkey bigint, cents bigint"

        def writer(self, schema, overwrite):
            return JlWriter(self.options["path"])

    spark.dataSource.register(JlSink)
    src = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
        .repartition(4)
    )
    src.write.format("hdfs_mr_jsonl_sink").option("path", out_dir).mode(
        "append"
    ).save()
    n_files = len(
        [f for f in os.listdir(out_dir) if f.startswith("part-")]
    )
    back = spark.read.schema("o_orderkey bigint, cents bigint").json(out_dir)
    res = back.agg(
        F.lit(n_files).cast("int").alias("n_files"),
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("cents_sum"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        F.max("o_orderkey").cast("bigint").alias("max_key"),
    ).localCheckpoint()
    shutil.rmtree(out_dir, ignore_errors=True)
    return res


def materialize_avro(sf_dir: str) -> str:
    """Derive supplier.avro from the parquet testdata with the module
    OCF writer (sources/avro_codec.py): deflate codec, 8-row blocks so
    every SF yields multiple blocks (multi-split coverage), money as
    exact integer cents (the materialize_xml discipline), the name
    split on '#' into an array field (exercises array block encoding),
    and a ["null","string"] union that is null for every 5th supplier
    (exercises union branch encoding + nullable transport)."""
    import decimal

    import pyarrow.parquet as pq

    from hdfs_mr_spark.sources.avro_codec import write_ocf

    def _cents(v: float) -> int:
        return int(
            decimal.Decimal(v * 100).quantize(
                0, rounding=decimal.ROUND_HALF_UP
            )
        )

    path = _fixture_dir(sf_dir) / "supplier.avro"
    if not path.exists():
        rows = pq.read_table(f"{sf_dir}/supplier.parquet").to_pylist()
        rows.sort(key=lambda r: r["s_suppkey"])
        schema = {
            "type": "record",
            "name": "supplier",
            "fields": [
                {"name": "suppkey", "type": "long"},
                {"name": "name", "type": "string"},
                {"name": "nationkey", "type": "int"},
                {"name": "cents", "type": "long"},
                {"name": "name_parts",
                 "type": {"type": "array", "items": "string"}},
                {"name": "opt", "type": ["null", "string"]},
            ],
        }
        write_ocf(
            str(path), schema,
            [
                {
                    "suppkey": r["s_suppkey"],
                    "name": r["s_name"],
                    "nationkey": r["s_nationkey"],
                    "cents": _cents(r["s_acctbal"]),
                    "name_parts": r["s_name"].split("#"),
                    "opt": (
                        None if r["s_suppkey"] % 5 == 0 else r["s_name"]
                    ),
                }
                for r in rows
            ],
            codec="deflate", block_rows=8,
        )
    return str(path)


@query(
    "scan_avro",
    oracle="""
SELECT s_suppkey, s_name, CAST(s_nationkey AS INTEGER) AS s_nationkey,
       CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_cents,
       CAST(length(s_name) - length(replace(s_name, '#', '')) + 1
            AS BIGINT) AS name_parts,
       s_name AS name_joined,
       CASE WHEN s_suppkey % 5 = 0 THEN NULL ELSE s_name END
         AS name_opt
FROM supplier
ORDER BY s_suppkey
""",
    family=_FAM,
)
def scan_avro(spark, sf_dir):
    """Avro Object Container File scan — the Kafka-ecosystem
    interchange format (VERDICT r11 missing item 3). The native
    spark-avro connector module is ABSENT from this distribution's
    jars (format('avro') raises AnalysisException — probed r12,
    tripwire test_native_spark_avro_connector_blocked adopts the
    native path the day the jar appears), so the engine carries its
    own spec-faithful OCF codec (sources/avro_codec.py, the
    sources/media.py discipline for blocked formats: deflate blocks,
    zigzag varints, array + nullable-union fields).

    The connector half is a Python DataSource whose partitions are
    BYTE RANGES, not files: the planner stats the file (driver reads
    zero data bytes) and hands each task an arbitrary [lo, hi) slice;
    the executor-side kernel (avro_codec.iter_split_rows) scans
    forward to the first 16-byte sync marker in its range and decodes
    exactly the blocks anchored there — the Hadoop AvroInputFormat
    ownership rule that makes a single 100 TB Avro file fully
    parallel with no index and no coordination. The hash oracle (the
    parquet original reconstructed in DuckDB) proves every row is
    decoded exactly once across the 4 splits: a block double-owned or
    orphaned by the range math would duplicate or drop rows and
    mismatch.

    Scale: split count becomes fileSize/targetSplitBytes; the kernel
    reads [lo, hi + one block] per task. Deflate decode is per-block
    CPU on executors, embarrassingly parallel."""
    import os

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    from hdfs_mr_spark.functions.udfs import REPO_ROOT

    path = materialize_avro(sf_dir)
    size = os.path.getsize(path)
    root = REPO_ROOT

    class AvroRangeReader(DataSourceReader):
        def __init__(self, path, size, nsplits):
            self.path, self.size, self.n = path, size, nsplits

        def partitions(self):
            step = max(1, self.size // self.n)
            bounds = [i * step for i in range(self.n)] + [self.size]
            return [
                InputPartition((self.path, bounds[i], bounds[i + 1]))
                for i in range(self.n)
            ]

        def read(self, part):
            import sys

            if root not in sys.path:  # worker: see udfs.repo_kernel
                sys.path.insert(0, root)
            from hdfs_mr_spark.sources.avro_codec import iter_split_rows

            p, lo, hi = part.value
            for r in iter_split_rows(p, lo, hi):
                yield (
                    r["suppkey"], r["name"], r["nationkey"], r["cents"],
                    len(r["name_parts"]), "#".join(r["name_parts"]),
                    r["opt"],
                )

    class AvroSource(DataSource):
        @classmethod
        def name(cls):
            return "hdfs_mr_avro"

        def schema(self):
            return (
                "s_suppkey bigint, s_name string, s_nationkey int, "
                "acctbal_cents bigint, name_parts bigint, "
                "name_joined string, name_opt string"
            )

        def reader(self, schema):
            return AvroRangeReader(
                self.options["path"],
                int(self.options["size"]),
                int(self.options.get("nsplits", "4")),
            )

    spark.dataSource.register(AvroSource)
    return (
        spark.read.format("hdfs_mr_avro")
        .option("path", path).option("size", size).option("nsplits", 4)
        .load()
        .orderBy("s_suppkey")
    )


@query(
    "fn_avro",
    oracle="""
WITH src AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), z AS (
  SELECT o_orderkey, o_orderpriority, cents,
         2 * o_orderkey AS zk, 2 * cents AS zc
  FROM src
)
SELECT o_orderkey,
       CAST((CASE WHEN zk < 128 THEN 1 WHEN zk < 16384 THEN 2
                  WHEN zk < 2097152 THEN 3 WHEN zk < 268435456 THEN 4
                  WHEN zk < 34359738368 THEN 5 ELSE 6 END)
            + 1 + length(o_orderpriority)
            + (CASE WHEN zc < 128 THEN 1 WHEN zc < 16384 THEN 2
                    WHEN zc < 2097152 THEN 3 WHEN zc < 268435456 THEN 4
                    WHEN zc < 34359738368 THEN 5 ELSE 6 END)
         AS BIGINT) AS avro_len,
       o_orderpriority AS dec_priority,
       cents AS dec_cents
FROM z
ORDER BY o_orderkey
""",
    family="2.8 scalar functions",
)
def fn_avro(spark, sf_dir):
    """Avro scalar round trip — the to_avro/from_avro surface next to
    fn_json/fn_xml, expressed through the module codec because the
    native spark-avro SQL functions are jar-blocked (see scan_avro).
    Each order row is encoded to Avro binary (zigzag-varint longs,
    length-prefixed UTF-8 string) and decoded back inside one
    Arrow-batched mapInPandas kernel; the output carries the decoded
    fields AND the encoded byte length. The length is the wire-format
    pin: the DuckDB oracle computes it in closed form (varint width
    CASE per zigzagged long + 1-byte length prefix + string bytes), so
    an encoder that emitted wrong varint widths or a wrong field order
    could not hash-match even though decode(encode(x)) == x is
    trivially true.

    Scale: pure per-row CPU over Arrow batches, no shuffle except the
    presentation sort — fan_out'ed first (r15-opt): the single-file
    orders fixture otherwise runs the whole per-row codec chain on ONE
    task (the r13 fn_geohash lesson)."""
    from hdfs_mr_spark.functions.udfs import repo_kernel
    from hdfs_mr_spark.io import fan_out

    o = fan_out(table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    ))
    return o.mapInPandas(
        repo_kernel("hdfs_mr_spark.sources.avro_codec", "fn_avro_kernel"),
        schema=(
            "o_orderkey bigint, avro_len bigint, "
            "dec_priority string, dec_cents bigint"
        ),
    ).orderBy("o_orderkey")


@query(
    "sink_avro",
    oracle="""
WITH src AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders WHERE o_orderkey % 7 = 0
)
SELECT o_orderpriority,
       CAST(4 AS BIGINT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(cents) AS BIGINT) AS cents_sum,
       CAST(SUM(CASE WHEN o_orderkey % 14 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null_u
FROM src
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    family=_FAM,
)
def sink_avro(spark, sf_dir):
    """Avro OCF SINK — the write half of the module codec story
    (scan_avro reads; this emits: a pipeline that hands data to a
    Kafka-ecosystem consumer writes OCF, connector jar or not). Each
    of 4 tasks encodes its partition through the module codec
    (sources/avro_codec.py — deflate blocks, zigzag varints, a
    nullable union that is null for every 14th key) into a
    task-private temp and PUBLISHES BY RENAME (torn files are never
    visible — the object-store multipart contract, one rename per
    task). The query then reads every published file BACK through the
    same codec and aggregates per priority, so the hash check covers
    encode -> container layout -> deflate -> decode, not just the
    write call returning; n_files pins the task fan-out.

    Scale: one OCF file per task, blocks bounded at 50 rows so every
    file is multi-block (sync-splittable by scan_avro's byte-range
    reader); encode is per-row CPU on executors, zero shuffle beyond
    the fixed repartition(4)."""
    import os
    import shutil
    import tempfile

    from hdfs_mr_spark.functions.udfs import REPO_ROOT

    out_dir = tempfile.mkdtemp(prefix="hmr_avro_sink_")
    root = REPO_ROOT
    avro_schema = {
        "type": "record",
        "name": "order",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "p", "type": "string"},
            {"name": "c", "type": "long"},
            {"name": "u", "type": ["null", "string"]},
        ],
    }

    def wkern(batches):
        import os as _os
        import sys as _sys
        import uuid as _uuid

        import pandas as _pd
        from pyspark import TaskContext

        if root not in _sys.path:  # worker: see udfs.repo_kernel
            _sys.path.insert(0, root)
        from hdfs_mr_spark.sources.avro_codec import write_ocf

        recs = []
        for pdf in batches:
            for k, p, c in zip(pdf["o_orderkey"], pdf["o_orderpriority"],
                               pdf["cents"]):
                recs.append({
                    "k": int(k), "p": p, "c": int(c),
                    "u": None if int(k) % 14 == 0 else p,
                })
        # IDEMPOTENT PUBLISH (VERDICT r12 ADVICE): the output name is
        # keyed by the PARTITION INDEX, not a uuid, and publication is
        # put-if-absent (hard link fails on an existing target), so a
        # retried or speculative task republishes the SAME file instead
        # of double-counting rows; an empty partition still emits a
        # (zero-block) file, keeping n_files == task fan-out exact.
        pid = TaskContext.get().partitionId()
        tmp = _os.path.join(out_dir, f"._tmp_{_uuid.uuid4().hex}")
        write_ocf(tmp, avro_schema, recs, codec="deflate", block_rows=50)
        final = _os.path.join(out_dir, f"part-{pid:05d}.avro")
        try:
            _os.link(tmp, final)  # atomic claim; loses to a prior attempt
        except FileExistsError:
            pass
        finally:
            _os.unlink(tmp)
        yield _pd.DataFrame({"n_rows": [len(recs)]})

    src = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 == 0)
        .select(
            "o_orderkey", "o_orderpriority",
            F.round(F.col("o_totalprice") * 100).cast("bigint")
            .alias("cents"),
        )
        .repartition(4)
    )
    src.mapInPandas(wkern, schema="n_rows long").localCheckpoint()
    files = sorted(
        os.path.join(out_dir, f) for f in os.listdir(out_dir)
        if f.endswith(".avro")
    )
    n_files = len(files)

    def rkern(batches):
        import sys as _sys

        import pandas as _pd

        if root not in _sys.path:  # worker: see udfs.repo_kernel
            _sys.path.insert(0, root)
        from hdfs_mr_spark.sources.avro_codec import read_ocf

        for pdf in batches:
            for path in pdf["path"]:
                rows = read_ocf(path)
                yield _pd.DataFrame({
                    "o_orderkey": _pd.Series(
                        [r["k"] for r in rows], dtype="int64"),
                    "o_orderpriority": [r["p"] for r in rows],
                    "cents": _pd.Series(
                        [r["c"] for r in rows], dtype="int64"),
                    "u_null": _pd.Series(
                        [r["u"] is None for r in rows], dtype="bool"),
                })

    back = (
        spark.createDataFrame([(f,) for f in files], "path string")
        .repartition(n_files)
        .mapInPandas(
            rkern,
            schema=("o_orderkey bigint, o_orderpriority string, "
                    "cents bigint, u_null boolean"),
        )
    )
    res = (
        back.groupBy("o_orderpriority")
        .agg(
            F.lit(n_files).cast("bigint").alias("n_files"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("cents_sum"),
            F.sum(F.col("u_null").cast("int")).cast("bigint")
            .alias("n_null_u"),
        )
        .orderBy("o_orderpriority")
        .localCheckpoint()
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    return res
