"""Cached per-sf corpus statistics (VERDICT r5 item 8).

Several text/dedup operators embed scalar plan-time literals — document
count N, whitespace-token total, distinct-token vocabulary size — and
each used to run its own ad-hoc ``.count()`` job at DataFrame
construction time. The numbers are properties of the CORPUS, not of the
query: at 100 TB every one of those jobs is a redundant full scan. This
module computes each statistic ONCE per version of its source table and
serves every caller from the cache — the query-at-a-time analogue of
reading persisted table statistics (``dq_profile_columns`` is the
operator that would maintain them as a stats table; threading is the
same pattern as ``_ann_params``).

A version is the table catalog's file identity
(:func:`hdfs_mr_spark.io.file_key`: realpath, size, mtime_ns of
``documents.parquet`` or ``embeddings.parquet``), so a rewritten corpus
is counted afresh and an unchanged one keeps its statistics across
SparkContext restarts. Like the catalog, the key needs a file table; a
directory table raises ``ValueError``.

Values are exact (no sampling) so oracle parity is unaffected: the
literals that reach the plan are identical to what the per-query counts
produced.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hdfs_mr_spark.io import file_key, table

_CACHE: dict[tuple, int] = {}

# The table each statistic is computed from.
_SOURCE = {
    "n_docs": "documents",
    "n_tokens": "documents",
    "max_shingle_df": "documents",
    "vocab_size": "documents",
    "n_embeddings": "embeddings",
    "embed_dim": "embeddings",
}


def _key(spark, sf_dir: str, stat: str) -> tuple:
    return (file_key(f"{sf_dir}/{_SOURCE[stat]}.parquet"), stat)


def _doc_counts(spark, sf_dir: str) -> None:
    """One aggregate job fills both n_docs and n_tokens: token total
    via sum(size(split)) — identical to counting the exploded stream
    (split of the empty string is [''], size 1, matching explode)."""
    row = (
        table(spark, sf_dir, "documents")
        .agg(
            F.count("*").alias("nd"),
            F.sum(F.size(F.split("text", " "))).alias("nt"),
        )
        .first()
    )
    _CACHE[_key(spark, sf_dir, "n_docs")] = int(row["nd"])
    _CACHE[_key(spark, sf_dir, "n_tokens")] = int(row["nt"] or 0)


def n_docs(spark, sf_dir: str) -> int:
    """COUNT(*) over documents."""
    k = _key(spark, sf_dir, "n_docs")
    if k not in _CACHE:
        _doc_counts(spark, sf_dir)
    return _CACHE[k]


def n_tokens(spark, sf_dir: str) -> int:
    """Total whitespace-token occurrences over documents.text."""
    k = _key(spark, sf_dir, "n_tokens")
    if k not in _CACHE:
        _doc_counts(spark, sf_dir)
    return _CACHE[k]


def embed_stats(spark, sf_dir: str) -> tuple[int, int]:
    """(row count, embedding dimension) of the embeddings table,
    cached once per embeddings file version — every ANN operator
    derives its parameters (cells/nprobe/bits via _ann_params, LSH
    table count, PQ fine-codebook size) from these two corpus
    properties, and each used to run its own count/agg job at
    construction time. At 100 TB they are persisted table statistics;
    one tiny aggregate fills both."""
    kn = _key(spark, sf_dir, "n_embeddings")
    kd = _key(spark, sf_dir, "embed_dim")
    if kn not in _CACHE:
        row = (
            table(spark, sf_dir, "embeddings")
            .agg(
                F.count("*").alias("n"),
                F.min(F.size("embedding")).alias("dim"),
            )
            .first()
        )
        _CACHE[kn] = int(row["n"])
        _CACHE[kd] = int(row["dim"] or 0)
    return _CACHE[kn], _CACHE[kd]


def max_shingle_df(spark, sf_dir: str) -> int:
    """MAX document frequency over the distinct word-trigram shingle
    stream — the posting-list regime signal: the worst per-shingle
    bucket of an inverted-index self-join is df^2, so the uncapped
    posting formulation is only safe while this stays bounded.
    Zipf-shaped real corpora blow it up (r8 stress: 972 shingles with
    df > 64 contributed 179.5M of 182.5M join pairs); the df-capped
    candidate generation is the dispatch target above the cap. Cached
    like every other corpus stat — at 100 TB this is one persisted
    number maintained beside the table, not a per-query scan."""
    k = _key(spark, sf_dir, "max_shingle_df")
    if k not in _CACHE:
        from hdfs_mr_spark.operators.llm_dedup import shingle_frame_of

        row = (
            shingle_frame_of(table(spark, sf_dir, "documents"))
            .select(F.explode("s").alias("g"))
            .groupBy("g")
            .agg(F.count("*").alias("df"))
            .agg(F.max("df").alias("m"))
            .first()
        )
        _CACHE[k] = int(row["m"] or 0)
    return _CACHE[k]


def vocab_size(spark, sf_dir: str) -> int:
    """COUNT(DISTINCT w) over the whitespace-token stream — the scalar
    every vocabulary-regime switch and LM smoothing constant keys on."""
    k = _key(spark, sf_dir, "vocab_size")
    if k not in _CACHE:
        d = table(spark, sf_dir, "documents")
        _CACHE[k] = (
            d.select(F.explode(F.split("text", " ")).alias("w"))
            .select("w")
            .distinct()
            .count()
        )
    return _CACHE[k]
