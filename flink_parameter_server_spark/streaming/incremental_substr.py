"""Continuous ExactSubstr span removal against a persisted span store
— the streaming form of the Lee et al. 2022 removal transform
(operators/_dedup_core.span_removal_positions is the batch half; this
module is its continuous-ingestion dual, the same relationship
incremental_dedup.py has to dedup_cluster_canonical).

State = ONE append-only parquet table under ``store_dir``:

- ``spans/bid=<batch_id>/`` — the DISTINCT span hashes whose canonical
  occurrence has been accepted so far, one partition per ingested
  batch (a bid-delta table, streaming/bid_store.py). A replayed batch
  OVERWRITES its own partition, so at-least-once delivery cannot
  double-insert; and the probe reads ``bid != current`` so a replay
  sees exactly the pre-batch store state — its decisions are
  bit-identical to the original run (the incremental_dedup self-guard,
  re-cast for spans). :func:`compact_span_store` folds all deltas
  (and any prior compact file) into ``spans/compact`` through
  bid_store's compaction — probe-identical before and after, replay
  of a folded bid skips its append (contract in the function
  docstring).

Per batch (:func:`process_substr_batch`):

1. token-hash the batch with the shared batch arithmetic
   (token_hashes -> span_occurrences — bit-identical span hashes, so
   streamed and batch removal agree by construction);
2. within-batch canonical pick: row_number over (sp) ordered by
   (doc_id, s) — rank 1 is the batch-local first occurrence;
3. store probe: a span already in the store (any earlier batch) has
   its canonical THERE, so every occurrence here is cut; otherwise
   rank >= 2 occurrences are cut and rank 1 survives;
4. the surviving rank-1 spans append to the store under this bid.

Semantics vs batch ``span_removal_positions`` — greedy keep-first by
ARRIVAL: the canonical occurrence is the first one ever ingested, so
when batches arrive in ascending doc_id order the streamed cuts equal
the batch run over the concatenated corpus EXACTLY (pinned); out of
order, the canonical is the earlier ARRIVAL rather than the smaller
doc_id — the standard streaming contract (a doc's cut positions never
change retroactively), same as the incremental dedup store's
keep-first. Doc ids must be unique across the corpus (one id space for
store + batches).

Scale shape: per batch, one map-only span build over batch tokens, one
row_number shuffle on sp (batch-sized), one equi-join against the
store span table (spark equi-join; the store side is distinct span
hashes of accepted content — AQE broadcasts it while it fits, then
degrades to a shuffled hash join), one append. No step depends on
batch count; the store grows only with distinct accepted spans.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators._dedup_core import (
    SPAN_K,
    merge_cut_runs,
    span_occurrences,
    token_hashes,
)
from .bid_store import compact_table, read_table, write_delta

_SPANS_SCHEMA = "sp bigint"


def _distinct_spans(df: DataFrame) -> DataFrame:
    return df.select("sp").distinct()


def store_spans(spark, store_dir: str, exclude_bid: int | None = None) -> DataFrame:
    """The distinct accepted span hashes — optionally excluding one
    bid's partition (the replay self-guard: a probe must not see the
    spans its own failed attempt wrote)."""
    return read_table(
        spark, os.path.join(store_dir, "spans"), _SPANS_SCHEMA, _distinct_spans, exclude_bid
    )


def compact_span_store(spark, store_dir: str) -> int:
    """Fold every per-batch span delta (and any previous compact file)
    into ONE distinct-span file — the many-small-files fix for a
    long-lived store (bid_store.compact_table; folding is a set union,
    so the probe result is identical before and after — pinned in
    tests). Returns the number of bid deltas folded.

    Replay contract: a bid in the folded set SKIPS its append on
    replay (the compact file already carries its spans), so the store
    never double-inserts. Its replayed DECISIONS, however, are
    computed against a store that already contains its own spans (the
    exclude-own-bid guard has nothing to exclude once the partition is
    folded) — so compaction must only run once every folded batch's
    decisions are durably stamped, the same single-writer
    between-batches discipline as the DSIR store."""
    return compact_table(spark, os.path.join(store_dir, "spans"), _SPANS_SCHEMA, _distinct_spans)


def process_substr_batch(
    spark, docs: DataFrame, store_dir: str, batch_id: int
) -> DataFrame:
    """Cut duplicate spans from one (doc_id, text) batch against the
    store, then persist the batch's new canonical spans under
    ``bid=<batch_id>``. Returns (doc_id, dpos array<int>, n_occ) for
    docs with at least one cut (callers left-join, exactly the batch
    function's contract). The returned frame is computed EAGERLY
    (checkpointed) before the store append so the decisions a caller
    stamps are the ones made against the pre-append state."""
    from ..scratch import scoped_checkpoint

    th = token_hashes(docs.select("doc_id", "text"))
    occ = span_occurrences(th)
    w = Window.partitionBy("sp").orderBy("doc_id", "s")
    ranked = occ.withColumn("rn", F.row_number().over(w))
    seen = store_spans(spark, store_dir, exclude_bid=batch_id)
    probed = scoped_checkpoint(
        ranked.join(seen.withColumn("_seen", F.lit(1)), "sp", "left")
    )
    cut = probed.where((F.col("rn") >= 2) | F.col("_seen").isNotNull())
    # same maximal-run merge as the batch half (r12, merge_cut_runs):
    # sub-span kept fragments between a doc's cut runs are filled, so
    # the single-batch ≡ batch pin keeps holding position-for-position
    decisions = scoped_checkpoint(
        cut.groupBy("doc_id")
        .agg(
            F.array_distinct(
                F.flatten(
                    F.collect_list(
                        F.sequence(F.col("s"), F.col("s") + (SPAN_K - 1))
                    )
                )
            ).alias("dpos"),
            F.count(F.lit(1)).alias("n_occ"),
        )
        .select("doc_id", merge_cut_runs(F.col("dpos")).alias("dpos"), "n_occ")
    )
    decisions.count()  # materialize decisions before mutating the store
    # a bid already folded by compact_span_store skips the append: the
    # compact file carries its spans
    write_delta(
        spark,
        os.path.join(store_dir, "spans"),
        batch_id,
        probed.where((F.col("rn") == 1) & F.col("_seen").isNull()).select("sp").distinct(),
    )
    return decisions


def apply_span_cuts(docs: DataFrame, decisions: DataFrame) -> DataFrame:
    """Rebuild batch text minus the cut positions — (doc_id, text,
    substr_removed_text, n_dup_spans_removed, n_span_tokens_removed),
    single-space canonical join, the text_profile column semantics."""
    from ..functions.text import tokens

    j = docs.join(decisions, "doc_id", "left").select(
        "doc_id", "text", tokens(F.col("text")).alias("toks"), "dpos", "n_occ"
    )
    kept = F.filter(
        F.col("toks"),
        lambda x, i: F.col("dpos").isNull()
        | ~F.array_contains(F.col("dpos"), i + 1),
    )
    return j.select(
        "doc_id",
        "text",
        F.array_join(kept, " ").alias("substr_removed_text"),
        F.when(
            F.col("toks").isNotNull(),
            F.coalesce(F.col("n_occ"), F.lit(0)).cast("long"),
        ).alias("n_dup_spans_removed"),
        (F.size("toks") - F.size(kept)).cast("long").alias("n_span_tokens_removed"),
    )
