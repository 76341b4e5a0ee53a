"""Pre-aggregated rollup tables: the materialized-view pattern.

At 100 TB the dashboard queries — counts and sums grouped by a handful
of low-cardinality dimensions — do not need to re-scan the fact table
per query: a rollup materialized ONCE at the finest useful grain
(every dimension kept) answers every coarser group-by by
RE-AGGREGATING the rollup, because the mergeable aggregates (count,
sum, min, max) compose: ``sum(sum_x)`` over a sub-grouping equals
``sum(x)`` over the raw rows. The Druid/Pinot ingestion-rollup and the
classic OLAP summary-table pattern, expressed as plain parquet + a
deterministic naming contract.

Non-mergeable aggregates (avg, count distinct) are DERIVED, not
stored: avg = sum/count at query time; distinct counts need a sketch
(operators/sketch.py HLL gates) or the raw table.

Scale shape: the build is one map-side-combinable aggregation scan of
the facts; the rollup is |dim-combinations| rows — typically orders of
magnitude smaller than the facts — so every later query is a scan of a
tiny table, usually a single partition, with the same exact results
(integer/count/sum math is order-insensitive; tests pin equality).

Reference anchor: no reference equivalent (vechord has no OLAP rollup
surface); this is part of the engine's analytics extension beside
cube_ship_stats/rollup_order_stats, which demonstrate the QUERY-side
ROLLUP/CUBE operators — this module is the STORAGE-side complement.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

# aggregates that re-aggregate losslessly from their own partials
_MERGEABLE = {"count", "sum", "min", "max"}
# how each stored partial column merges when re-grouping coarser
_REMERGE = {"count": F.sum, "sum": F.sum, "min": F.min, "max": F.max}


def _partial_name(agg: str, col: str) -> str:
    return f"{agg}_{col}"


def write_rollup(
    facts: DataFrame,
    dims: Sequence[str],
    aggs: Mapping[str, Sequence[str]],
    path: str,
) -> None:
    """Materialize a rollup of ``facts`` at grain ``dims``.

    ``aggs`` maps column -> aggregate names (subset of count/sum/min/
    max; pass column ``"*"`` with ``["count"]`` for the row count).
    One aggregation scan; written as parquet at ``path``.

    Concurrency note: ``mode("overwrite")`` on a plain parquet
    directory is delete-then-write — a reader racing the rebuild can
    see a partial table. Single-writer refresh (the scheduled-job
    norm for summary tables) is safe; for concurrent readers put the
    rollup under a registry table (every registry write is a commit
    of plans/commitlog.py) so the rebuild is one atomic snapshot swap.
    """
    if not dims:
        raise ValueError("rollup needs at least one dimension")
    exprs = []
    for col, fns in aggs.items():
        for fn in fns:
            if fn not in _MERGEABLE:
                raise ValueError(
                    f"{fn} is not mergeable; store count+sum and derive "
                    "(avg) or use a sketch (count distinct)"
                )
            target = F.lit(1) if col == "*" else F.col(col)
            expr = getattr(F, fn)(target)
            if fn in ("count", "sum"):
                expr = expr.cast("bigint") if fn == "count" else expr
            exprs.append(expr.alias(_partial_name(fn, col.strip("*") or "rows")))
    if not exprs:
        raise ValueError("rollup needs at least one aggregate")
    facts.groupBy(*dims).agg(*exprs).write.mode("overwrite").parquet(path)


def merge_rollup(
    spark: SparkSession,
    path: str,
    new_facts: DataFrame,
    dims: Sequence[str],
    aggs: Mapping[str, Sequence[str]],
) -> None:
    """Incremental rollup refresh — the materialized-view maintenance
    step: aggregate ONLY the new facts at the stored grain and merge
    into the existing partials. Correct because every stored aggregate
    is mergeable: counts and sums add, min/max combine — the refresh
    never re-reads old facts, so a day's update costs one scan of the
    day's data (plus the rollup-sized merge). The caller supplies the
    APPENDED facts only (pair with the files a commitlog names since
    a recorded version, ``TableLog.since``); feeding already-rolled rows double
    counts, exactly like any summary table.

    ``dims``/``aggs`` must match the build (validated against the
    stored columns). The merged table is localCheckpoint'd before
    overwriting the directory it derives from.
    """
    old = spark.read.parquet(path)
    want_cols = set(old.columns)
    delta_cols: list = []
    delta_names: list[str] = []
    for col, fns in aggs.items():
        for fn in fns:
            part = _partial_name(fn, col.strip("*") or "rows")
            if part not in want_cols:
                raise ValueError(
                    f"rollup at {path} does not store {fn}({col}) "
                    f"(stored: {sorted(want_cols)})"
                )
            target = F.lit(1) if col == "*" else F.col(col)
            expr = getattr(F, fn)(target)
            if fn == "count":
                expr = expr.cast("bigint")
            delta_cols.append(expr.alias(part))
            delta_names.append(part)
    if set(list(dims) + delta_names) != want_cols:
        raise ValueError(
            f"dims+aggs must cover the stored rollup columns exactly "
            f"(stored: {sorted(want_cols)})"
        )
    delta = new_facts.groupBy(*dims).agg(*delta_cols)
    merged = (
        old.unionByName(delta)
        .groupBy(*dims)
        .agg(
            *[
                _REMERGE[part.split("_", 1)[0]](F.col(part)).cast(
                    "bigint"
                ).alias(part)
                if part.startswith("count_")
                else _REMERGE[part.split("_", 1)[0]](F.col(part)).alias(part)
                for part in sorted(want_cols - set(dims))
            ]
        )
        .localCheckpoint(eager=True)
    )
    merged.write.mode("overwrite").parquet(path)


def rollup_query(
    spark: SparkSession,
    path: str,
    dims: Sequence[str],
    aggs: Mapping[str, Sequence[str]],
) -> DataFrame:
    """Answer a group-by at a COARSER grain from the stored rollup.

    ``dims`` must be a subset of the build-time dimensions; ``aggs``
    uses the same (column -> aggregate names) shape as the build. The
    result is exactly what the same group-by over the raw facts would
    return (pinned by tests), but the scan is the tiny rollup table.
    """
    rolled = spark.read.parquet(path)
    exprs = []
    for col, fns in aggs.items():
        for fn in fns:
            part = _partial_name(fn, col.strip("*") or "rows")
            if part not in rolled.columns:
                raise ValueError(
                    f"rollup at {path} does not store {fn}({col}); rebuild "
                    f"with it in aggs (stored: {rolled.columns})"
                )
            merged = _REMERGE[fn](F.col(part))
            if fn == "count":
                merged = merged.cast("bigint")
            exprs.append(merged.alias(part))
    if not exprs:
        raise ValueError("rollup query needs at least one aggregate")
    if not dims:
        return rolled.agg(*exprs)
    return rolled.groupBy(*dims).agg(*exprs)
