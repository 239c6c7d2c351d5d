"""PySpark-native analytics engine with the capabilities of the reference
minimal HDFS+MapReduce system, rebuilt Spark-first (SURVEY.md).

Public surface: :func:`queries`, :func:`oracles`, and the registry in
:mod:`hdfs_mr_spark.registry`.
"""

from __future__ import annotations

import importlib

_FAMILY_MODULES = (
    "hdfs_mr_spark.sources.scans",
    "hdfs_mr_spark.sources.lake",
    "hdfs_mr_spark.operators.projection",
    "hdfs_mr_spark.operators.joins",
    "hdfs_mr_spark.operators.aggregates",
    "hdfs_mr_spark.operators.windows",
    "hdfs_mr_spark.operators.sorts",
    "hdfs_mr_spark.operators.setops",
    "hdfs_mr_spark.operators.subqueries",
    "hdfs_mr_spark.operators.mrjobs",
    "hdfs_mr_spark.operators.tpch",
    "hdfs_mr_spark.operators.llm_text",
    "hdfs_mr_spark.operators.llm_dedup",
    "hdfs_mr_spark.operators.llm_similarity",
    "hdfs_mr_spark.functions.scalars",
    "hdfs_mr_spark.functions.udfs",
    "hdfs_mr_spark.streaming.queries",
)

_loaded = False


def _load_all_families() -> None:
    global _loaded
    if _loaded:
        return
    for mod in _FAMILY_MODULES:
        importlib.import_module(mod)
    _loaded = True


def queries():
    """name -> (spark, sf_dir) -> DataFrame, per SURVEY.md §2."""
    from hdfs_mr_spark.registry import all_specs

    return {name: spec.fn for name, spec in all_specs().items()}


def oracles():
    """name -> DuckDB oracle SQL (only for oracle-checkable queries).

    Writes every fixture the SQL reads first (the media fixtures, and
    the csv/jsonl/txt scans derived from the sf0.01 testdata when it is
    mounted), so a caller that runs an oracle before its Spark query
    still finds the file. Incomplete testdata only warns; the scans
    that need it then fail on their own."""
    import os
    import warnings

    from hdfs_mr_spark.registry import all_specs
    from hdfs_mr_spark.sources import scans
    from hdfs_mr_spark.sources.media import FIXTURES, fixture

    for name in FIXTURES:
        fixture(name)
    if os.path.isdir(scans.ORACLE_SF):
        try:
            scans.materialize_fixtures(scans.ORACLE_SF)
        except FileNotFoundError as exc:
            warnings.warn(
                f"testdata at {scans.ORACLE_SF} is incomplete; scan "
                f"fixtures not written: {exc}", RuntimeWarning, stacklevel=2,
            )
    return {
        name: spec.oracle
        for name, spec in all_specs().items()
        if spec.oracle is not None
    }
