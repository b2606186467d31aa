"""Continuous DSIR importance weighting against a persisted
feature-count store — the streaming form of operators/_dsir_core
(r10, completing the incremental family: lexical dedup r7, curation
r8, semantic dedup r9, importance weights here).

Why: a growing corpus wants per-doc importance weights AT INGEST TIME
(they gate selection/mixture decisions downstream), but the weight of
a doc depends on corpus-WIDE distributions — recomputing the batch
pipeline per micro-batch is a full rescan at 100 TB. State here is
tiny and mergeable: per-batch COUNT DELTAS over the DSIR_B hashed
feature buckets, a bid-delta table (streaming/bid_store.py) at
``counts/bid=<batch_id>`` — a replayed batch overwrites its OWN
delta. The lambda table is a DSIR_B-row
aggregate over the store, recomputed per batch — cost bounded by B,
never by corpus size.

Semantics (the greedy-stamp contract, the keep-first analog): a
batch's weights are computed under the distributions of all content
up to and INCLUDING the batch — so one batch over an empty store
reproduces the batch ``dsir_micro`` EXACTLY (pinned), and later
batches make earlier stamps stale. :func:`rescore_dsir` recomputes
any doc set under the CURRENT store, pinned equal to the batch
pipeline over the concatenated corpus. All arithmetic is the shared
``_dsir_core`` definition (integer micro-nats on the 6dp grid), so
engine-exactness carries over verbatim.

Contract: doc ids are unique across the catalog (store + all batches
share one id space, the semantic-store rule) — the count store tallies
token occurrences and TRUSTS upstream dedup, so re-ingesting the same
doc under a new batch id double-counts its tokens by design (run the
curation gates first; a replayed batch with the SAME bid is safe).

Scale shape: one (doc, b) shuffle per batch for the feature counts;
the store read is a B-row-per-batch-file aggregate (sum over deltas);
everything downstream is bounded broadcasts. The store grows by at
most DSIR_B rows per batch — at micro-batch cadence over months that
is a many-small-files listing, so :func:`compact_dsir_counts` (r11)
folds every delta into one through bid_store's compaction, whose
folded-bid set keeps a replayed already-compacted batch idempotent.
Run it between batches (single-writer discipline).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators._dsir_core import (
    DSIR_B,
    DSIR_TARGET_LANG,
    dsir_features,
    dsir_lambda,
    dsir_weights,
)
from .bid_store import bid_sink, compact_table, read_table, write_delta

_COUNTS_SCHEMA = "b bigint, cr bigint, ct bigint"


def _sum_counts(df: DataFrame) -> DataFrame:
    return df.groupBy("b").agg(F.sum("cr").alias("cr"), F.sum("ct").alias("ct"))


def read_dsir_counts(spark, store_dir: str) -> DataFrame:
    """Aggregated (b, cr, ct) over every batch delta in the store —
    empty-typed when nothing has been ingested yet."""
    return read_table(spark, os.path.join(store_dir, "counts"), _COUNTS_SCHEMA, _sum_counts)


def compact_dsir_counts(spark, store_dir: str) -> int:
    """Fold every per-batch delta (and any previous compact file) into
    ONE summed delta — the many-small-files fix for a long-lived store
    (bid_store.compact_table; VERDICT r10 missing-#3). Weights are
    identical before and after (pinned in tests) because the store read
    is a sum over deltas — folding is associative. A replay of a folded
    bid skips its delta write (its tokens are already inside the compact
    file), so it neither double-counts nor errors. Returns the number of
    bid deltas folded this call."""
    return compact_table(spark, os.path.join(store_dir, "counts"), _COUNTS_SCHEMA, _sum_counts)


def process_dsir_batch(
    spark,
    docs: DataFrame,
    store_dir: str,
    batch_id: int,
) -> DataFrame:
    """Ingest one (doc_id, lang, text) batch: write its count delta
    under ``counts/bid=<batch_id>`` (overwrite — replay-idempotent),
    then return the batch docs' weights (doc_id, smic, ntok) computed
    against the store INCLUDING this batch.

    Failure contract (ADVICE r10): the delta persists BEFORE the
    returned weights frame is consumed — if the caller's downstream
    weight write fails, the store already includes the batch while no
    weights were stamped, so a batch whose weight write fails MUST be
    re-run with the SAME bid before the store is considered consistent
    (the overwrite self-heals; a replay under a new bid double-counts).
    A bid already folded by :func:`compact_dsir_counts` skips its delta
    write — the compact file carries it — and just recomputes weights."""
    from ..scratch import scoped_checkpoint

    # the feature counts feed the delta write AND the weight sums —
    # checkpoint once so the (doc, b) shuffle runs once
    fcnt = scoped_checkpoint(dsir_features(docs))
    delta = fcnt.groupBy("b").agg(
        F.sum("n").cast("long").alias("cr"),
        F.sum(F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("n"))).cast("long").alias("ct"),
    )
    write_delta(
        spark,
        os.path.join(store_dir, "counts"),
        batch_id,
        delta.select("b", "cr", F.coalesce("ct", F.lit(0)).cast("long").alias("ct")),
    )
    counts = read_dsir_counts(spark, store_dir)
    lam = dsir_lambda(
        counts.select("b", "cr"), counts.where(F.col("ct") > 0).select("b", "ct")
    )
    return dsir_weights(fcnt, lam)


def rescore_dsir(spark, docs: DataFrame, store_dir: str) -> DataFrame:
    """(doc_id, smic, ntok) for ``docs`` under the CURRENT store state
    — after all batches are in, this equals the batch pipeline over
    the concatenated corpus (pinned). Use it to refresh stale early
    stamps before a selection pass."""
    counts = read_dsir_counts(spark, store_dir)
    lam = dsir_lambda(
        counts.select("b", "cr"), counts.where(F.col("ct") > 0).select("b", "ct")
    )
    return dsir_weights(dsir_features(docs), lam)


def rescore_and_select(
    spark, docs: DataFrame, store_dir: str, keep_div: int | None = None
):
    """Continuous DSIR SELECTION (r11): refresh ``docs``' weights under
    the CURRENT store, then apply the scale-form threshold cut
    (mlprep.dsir_select_threshold — approx-percentile, no global sort).
    This is the composition a selection pass over a long-ingested
    corpus actually runs: stamps written at arrival are stale by the
    greedy-stamp contract, so select on a RESCORE, never on stored
    stamps. Returns (doc_id, smic, sel). The rescored frame is
    checkpointed before the cut (the threshold's documented
    persist-before-count contract — the count action would otherwise
    re-execute the whole weight lineage)."""
    from ..operators.mlprep import DSIR_KEEP_DIV, dsir_select_threshold
    from ..scratch import scoped_checkpoint

    w = scoped_checkpoint(rescore_dsir(spark, docs, store_dir))
    return dsir_select_threshold(w, keep_div=keep_div or DSIR_KEEP_DIV)


def dsir_stream_writer(spark, docs_stream: DataFrame, store_dir: str, weights_dir: str):
    """Wire :func:`process_dsir_batch` into Structured Streaming
    (bid_store.bid_sink): each micro-batch updates the count store and
    writes its weights under ``weights_dir/bid=<batch_id>`` (one stamp
    per doc per batch, replay replaces itself). Returns the started
    StreamingQuery."""
    return bid_sink(
        spark,
        docs_stream,
        store_dir,
        weights_dir,
        lambda df, bid: process_dsir_batch(spark, df, store_dir, bid),
    )
