"""Shared expression helpers — determinism kernel for the hash-match oracle.

Why decimals: parquet doubles are bit-identical inputs to both engines,
and IEEE scalar ops (+,-,*,/ on two operands) are deterministic, so any
*per-row* double expression matches bit-for-bit across Spark and DuckDB.
What differs is *aggregation order* (parallel partial sums vs serial).
Casting the per-row value to a decimal and summing decimals makes the
aggregate exact and order-independent in both engines; casting the exact
decimal result back to double yields identical doubles. This keeps every
checked aggregate hash-exact without lossy rounding (SURVEY.md §5.2
determinism rules).

The decimal cast itself is safe: testdata money/rate columns are exact
2-dp values (measured), so per-row products have ≤4 decimal digits and a
scale-8 decimal is ~1e5 looser than the double's 1e-13 error.
"""

from __future__ import annotations

from pyspark.sql import Column, Observation
from pyspark.sql import functions as F

DEC = "decimal(38,8)"


def _dec(scale: int) -> str:
    return f"decimal(38,{scale})"


def _to_double_single_rounding(sum_col: Column, scale: int) -> Column:
    # Why not a plain CAST(sum AS DOUBLE): when the sum's scaled integer
    # exceeds 2^53, DuckDB's decimal->double cast double-rounds
    # ((double)int128 / 10^scale) while Java's BigDecimal single-rounds —
    # observed 1-ulp divergence. Both engines DO correctly round an
    # integer-valued DECIMAL(38,0); so scale up to an exact integer, cast
    # once, and divide by the (exactly representable) 10^scale in double.
    return (
        (sum_col * F.lit(10**scale))
        .cast("decimal(38,0)")
        .cast("double")
        / F.lit(float(10**scale))
    )


def dsum(c: Column, scale: int = 8) -> Column:
    """Order-independent exact sum of a double column, returned as double.

    ``scale`` must satisfy ``|value| * 10^scale`` exact in double per row
    (use scale=4 for squared/cross-product magnitudes ~1e10); the sum
    itself may exceed 2^53 — conversion stays deterministic either way.
    """
    return _to_double_single_rounding(F.sum(c.cast(_dec(scale))), scale)


def davg(c: Column, scale: int = 8) -> Column:
    """Order-independent exact mean of a double column, as double."""
    return (dsum(c, scale) / F.count(c)).cast("double")


def sql_dsum(x: str, scale: int = 8) -> str:
    """DuckDB rendering of :func:`dsum` over expression ``x``."""
    m = 10**scale
    return (
        f"(CAST(CAST(SUM(CAST({x} AS DECIMAL(38,{scale}))) * {m} "
        f"AS DECIMAL(38,0)) AS DOUBLE) / {m}.0)"
    )


def sql_davg(x: str, scale: int = 8) -> str:
    """DuckDB rendering of :func:`davg` over expression ``x``."""
    return f"CAST({sql_dsum(x, scale)} / COUNT({x}) AS DOUBLE)"


def fold_by_key(df, keys, order, fields, zero, step, finish=None):
    """Per-key sequential fold, run inside the JVM.

    Groups ``df`` by ``keys``, sorts each key's rows by
    ``(*order, *fields)`` (``array_sort`` of structs compares field by
    field), then folds them with ``aggregate(rows, zero, step, finish)``.
    ``step(acc, s)`` sees one row as struct ``s`` whose fields are the
    ``order`` and ``fields`` columns; ``zero`` and ``finish`` may read
    the key columns. Returns ``keys`` plus the folded value as ``fold``.

    Memory is one key's rows, and there is no Python worker, bucket
    count or schema string. The lambda is interpreted per element, so
    the fold suits recurrences with few steps per key.
    """
    cols = [*order, *fields]
    rows = df.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct(*cols))).alias("rows")
    )
    return rows.select(
        *keys, F.aggregate("rows", zero, step, finish).alias("fold")
    )


def relax(edges, seeds, rounds):
    """Min-plus relaxation from ``seeds`` over weighted ``edges``.

    ``edges`` has columns ``src, dst, w`` and ``seeds`` has ``node, d``.
    Each round relaxes only the nodes whose distance improved in the
    round before (delta Bellman-Ford), merges the candidates into the
    distances with one full outer join, and checkpoints that merge; the
    checkpoint's job also counts the improved nodes (an ``observe``
    metric, so the count costs no job of its own). The loop stops after
    ``rounds`` rounds or at the first round that improves nothing. BFS
    is the unit-weight case; min-label components is weight 0 from
    ``(id, id)`` seeds.

    Returns ``(dist, trace)``: ``dist`` has ``node, d`` (every node
    reached within the rounds run), ``trace`` the improved count per
    round. A trace that ends in 0 reached a fixpoint.
    """
    dist = frontier = seeds
    trace: list[int] = []
    for _ in range(rounds):
        cand = (
            frontier.join(edges, F.col("node") == F.col("src"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min(F.col("d") + F.col("w")).alias("nd"))
        )
        # nd is NULL for nodes no candidate reached, so imp is not true
        # there and d passes through
        imp = F.col("d").isNull() | (F.col("nd") < F.col("d"))
        improved = Observation()
        merged = (
            cand.join(dist, "node", "full")
            .select(
                "node",
                F.when(imp, F.col("nd")).otherwise(F.col("d")).alias("d"),
                imp.alias("imp"),
            )
            .observe(improved, F.count_if("imp").alias("n"))
            .localCheckpoint()
        )
        dist = merged.select("node", "d")
        frontier = merged.filter("imp").select("node", "d")
        trace.append(improved.get["n"])
        if trace[-1] == 0:
            break
    return dist, trace
