"""Shared helpers for oracle-checked operators.

Float discipline (FIXTURES.md determinism rules): double summation order
differs between Spark's partial aggregation and DuckDB, so large SUMs over
doubles are computed in DECIMAL (exact, order-independent) and only then
converted back to double and rounded. Products of the *same* input doubles
are bit-identical in both engines, so ``double product -> decimal -> sum``
is fully deterministic.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table

DEC = "decimal(18,6)"
# exact sum type of training step deltas (MF, PA): 15 fractional digits
# keep products like LR*e*u (often < 1e-4) exact where DEC would round
# them to two or three significant digits
STEP_DEC = "decimal(28,15)"


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition a narrow frame to cluster parallelism BEFORE a heavy
    map stage — iff the scan under it yields fewer partitions.

    Measured need (r14, BASELINE.md gate-exponent receipt): the fixture
    documents tables are single parquet files that split into 1-2 scan
    partitions, so the Gopher gate's per-doc signal tree — ~100x the
    text bytes in compute — ran near-serial while 31 cores idled; the
    gate's marginal cost scaled x15.5 for x10 docs purely from lost
    parallelism. One narrow-row shuffle buys full-width map evaluation.
    At 100 TB the scan already yields thousands of splits and this is a
    no-op (the condition, not the call, is the contract — never add an
    unconditional repartition to a big-scan path).

    PRECONDITION (ADVICE r14): only wrap SHUFFLE-FREE, scan-rooted
    frames (scan + projections/filters). The partition probe converts
    the frame to an RDD, and with AQE enabled that conversion EXECUTES
    any shuffle stages in the plan — a guarded plan containing a
    join/agg would run those stages twice (once for the probe, once
    for the real action). All call sites (the curate/profile per-doc
    signal scans) are narrow scans by construction; a post-shuffle
    frame never needs this helper anyway — its width is already
    spark.sql.shuffle.partitions."""
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def overlap(spark: SparkSession, *builders: Callable[[], Any]) -> list[Any]:
    """Run independent builders on driver threads, one thread each, and
    return their results in builder order; a builder's exception is
    re-raised here.

    Each builder is wrapped with the SESSION form of
    ``inheritable_thread_target``, so both the caller's local
    properties (job group, scheduler pool) and its session tags reach
    the thread: jobs started inside stay attributable to, and
    cancellable with, the caller's tags. The function form drops the
    tags (and warns on every call under Spark 4).

    Plans, fold orders and values do not depend on the threads; only
    driver-side plan analysis and job submission overlap. Serial code
    is the default — a call site uses this only where the overlap
    measured faster at the target core count.
    """
    with ThreadPoolExecutor(max_workers=len(builders)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(b)) for b in builders]
        return [f.result() for f in futures]


def exact_sum(col: Column) -> Column:
    """Order-independent sum: per-value round to 6dp (exact, same in both
    engines) then exact decimal addition.

    Non-finite values (NaN/±inf) are excluded the same way NULLs are —
    the explicit contract of the decimal discipline. Spark's double→
    decimal cast already nulls them silently; DuckDB's hard-errors
    (found by the r6 --nonfinite probe), so both sides now guard
    identically and the exclusion is documented rather than accidental.
    A pipeline that must not lose non-finite measures should gate them
    upstream (the text_profile-style quality signals are the tool)."""
    d = col.cast("double")
    finite = ~F.isnan(d) & (F.abs(d) != F.lit(float("inf")))
    return F.sum(F.when(finite, col).cast(DEC))


def exact_sum_sql(expr: str) -> str:
    return (
        f"sum(CAST(CASE WHEN isfinite(CAST({expr} AS DOUBLE)) "
        f"THEN {expr} END AS DECIMAL(18,6)))"
    )


def finite_or_null(col: Column) -> Column:
    """NaN/±inf -> NULL (the decimal discipline's exclusion contract);
    use on free-form double measures before an inline decimal-sum."""
    d = col.cast("double")
    return F.when(~F.isnan(d) & (F.abs(d) != F.lit(float("inf"))), col)


def dround(col: Column, scale: int = 6) -> Column:
    """Decimal/double -> double, rounded — the canonical float output form."""
    return F.round(col.cast("double"), scale)


def dround_sql(expr: str, scale: int = 6) -> str:
    return f"round(CAST({expr} AS DOUBLE), {scale})"


def money_sum(col: Column) -> Column:
    return dround(exact_sum(col), 4)


def money_sum_sql(expr: str) -> str:
    return dround_sql(exact_sum_sql(expr), 4)


def mean_of(sum_col: Column, cnt_col: Column, scale: int = 6) -> Column:
    """avg computed as exact_sum/count explicitly (both engines identical)."""
    return F.round(sum_col.cast("double") / cnt_col.cast("double"), scale)


def with_grand_total(df: DataFrame, how: str, cols: list[str], *aggs: Column) -> DataFrame:
    """``df.rollup(*cols)`` or ``df.cube(*cols)`` (``how``) aggregated by
    ``aggs``, keeping the () grand-total row on empty input. Spark 4.1.2
    emits no () row for a rollup/cube over zero rows, where DuckDB and
    the SQL standard emit one (count 0, sum NULL). So a filler () row,
    ``aggs`` over ``df.limit(0)`` (which Catalyst plans as an empty local
    relation, not a scan), joins the levels, and a window keeps it only
    where the rollup/cube emitted no () row of its own: ``df`` is read
    once. The window runs over the levels' few rows in one task
    (``coalesce(1)``), so it adds no shuffle."""
    total = (1 << len(cols)) - 1
    levels = (
        getattr(df, how)(*cols)
        .agg(*aggs, F.grouping_id().alias("_gid"))
        .withColumn("_filler", F.lit(0))
    )
    empty = df.limit(0).agg(*aggs)
    keys = [F.lit(None).cast(df.schema[c].dataType).alias(c) for c in cols]
    filler = empty.select(
        *keys, *empty.columns, F.lit(total).cast("long").alias("_gid"), F.lit(1).alias("_filler")
    )
    return (
        levels.unionByName(filler)
        .coalesce(1)
        .withColumn("_first", F.min("_filler").over(Window.partitionBy("_gid")))
        .where(F.col("_filler") == F.col("_first"))
        .drop("_gid", "_filler", "_first")
    )
