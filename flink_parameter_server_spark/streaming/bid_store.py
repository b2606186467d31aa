"""The ``bid=<batch_id>`` store lifecycle of the incremental family.

foreachBatch is at-least-once, so every mutable state the incremental
modules keep is laid out per batch id and made replay-safe by
overwriting its own ``bid=<N>`` directory. Two shapes share that
layout and live here once:

- **Bid-delta tables** (incremental_dsir ``counts``, incremental_substr
  ``spans``): each batch writes its delta to ``<table>/bid=<N>``;
  :func:`compact_table` merges every delta (and any earlier compact
  file) into ``<table>/compact`` and records the folded bids in
  ``<table>/_folded`` (a tiny parquet, one bigint per ingested bid —
  the underscore prefix hides it from reads). A replayed bid that is
  already folded skips its delta write: the compact file carries it.
  Reads take an explicit path list (delta dirs + ``compact``), never
  partition discovery, so the mixed post-compaction layout stays
  readable and one bid can be left out (a replay's self-guard). A
  caller supplies its table's schema and its ``merge`` — the function
  that folds many delta rows into the store's value (a count sum, a
  distinct span set); a fold must not change what a read returns.
- **Decision sinks** (:func:`bid_sink`): every stream writer lands a
  batch's decisions under ``<out>/bid=<N>`` with overwrite, so a replay
  replaces its own rows; :func:`guard_decisions_dir` refuses an output
  dir that already holds flat parquet.

Single-writer discipline: compaction runs between batches, never
concurrently with one. Every filesystem op goes through fsutil's
Hadoop FileSystem probes, so the lifecycle works on hdfs:// and s3a://
stores as well as local ones.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..scratch import pinned
from ..sources.fsutil import list_dir_names, path_exists, swap_in

_FOLDED_SCHEMA = "bid bigint"


def _paths(spark, table: str, exclude_bid: int | None = None) -> list[str]:
    """The table's readable dirs: every ``bid=<N>`` delta except
    ``exclude_bid``'s, plus ``compact`` once a fold has run."""
    if not path_exists(spark, table):
        return []
    skip = f"bid={exclude_bid}"
    return [
        os.path.join(table, n)
        for n in list_dir_names(spark, table)
        if n == "compact" or (n.startswith("bid=") and n != skip)
    ]


def folded_bids(spark, table: str) -> set[int]:
    """Batch ids :func:`compact_table` has folded into ``compact``. The
    collect is bounded by the number of batches ever ingested, not by
    corpus size."""
    path = os.path.join(table, "_folded")
    if not path_exists(spark, path):
        return set()
    return {r["bid"] for r in spark.read.schema(_FOLDED_SCHEMA).parquet(path).collect()}


def write_delta(spark, table: str, batch_id: int, delta: DataFrame) -> None:
    """Overwrite batch ``batch_id``'s delta (replay-idempotent); a bid
    already folded into ``compact`` writes nothing."""
    if batch_id in folded_bids(spark, table):
        return
    delta.coalesce(1).write.mode("overwrite").parquet(os.path.join(table, f"bid={batch_id}"))


def read_table(
    spark, table: str, schema: str, merge, exclude_bid: int | None = None
) -> DataFrame:
    """``merge`` over every delta plus ``compact`` — empty-typed before
    the first write. ``exclude_bid`` leaves that batch's own delta out."""
    paths = _paths(spark, table, exclude_bid)
    if not paths:
        return merge(spark.createDataFrame([], schema))
    return merge(spark.read.schema(schema).parquet(*paths))


def compact_table(spark, table: str, schema: str, merge) -> int:
    """Fold every delta (and any previous compact file) into one
    ``compact`` file, record the folded bids, and swap the table in.
    Returns the number of bid deltas folded this call (0 for a table
    never written)."""
    paths = _paths(spark, table)
    if not paths:
        return 0
    new_bids = {int(p.rsplit("=", 1)[1]) for p in paths if not p.endswith("compact")}
    bids = sorted(folded_bids(spark, table) | new_bids)

    def write(tmp: str) -> None:
        merge(spark.read.schema(schema).parquet(*paths)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, "compact"))
        spark.createDataFrame([(b,) for b in bids], _FOLDED_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, "_folded"))

    swap_in(spark, table, write)
    return len(new_bids)


def guard_decisions_dir(spark, decisions_dir: str) -> None:
    """Refuse a decisions dir holding FLAT (pre-bid-layout) parquet:
    partition discovery over a mixed flat+bid=<n> layout silently
    drops every flat row from reads (verified empirically, review r8)
    — fail loudly instead of losing history. Probes through the Hadoop
    FS API (r12): a driver-local listdir returns nothing on a remote
    scheme, which would silently WAIVE the guard."""
    if path_exists(spark, decisions_dir) and any(
        f.endswith(".parquet") and not f.startswith(("_", "."))
        for f in list_dir_names(spark, decisions_dir)
    ):
        raise ValueError(
            f"decisions dir {decisions_dir!r} contains flat (pre-bid-layout) "
            "parquet files; reading a mixed flat+bid=<n> layout silently "
            "drops the flat rows. Migrate them first, e.g. "
            "spark.read.parquet(dir).write.parquet(dir + '/bid=-1') "
            "and remove the flat files."
        )


def bid_sink(spark, stream: DataFrame, store_dir: str, out_dir: str, process):
    """Start ``stream`` as a foreachBatch query: each micro-batch runs
    ``process(batch_df, batch_id)`` and its frame lands, with a
    ``batch_id`` column, under ``<out_dir>/bid=<batch_id>`` (overwrite —
    a replayed batch replaces its own rows). The query checkpoints at
    ``<store_dir>/_checkpoint``. Returns the started StreamingQuery.

    The decisions write consumes every checkpoint ``process`` pins, so
    each batch runs in its own scratch scope and frees them right
    after the write."""
    guard_decisions_dir(spark, out_dir)

    def _sink(batch_df, batch_id: int) -> None:
        with pinned(spark):
            process(batch_df, batch_id).withColumn(
                "batch_id", F.lit(batch_id)
            ).write.mode("overwrite").parquet(os.path.join(out_dir, f"bid={batch_id}"))

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", os.path.join(store_dir, "_checkpoint"))
        .start()
    )
