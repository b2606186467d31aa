"""Incremental SEMANTIC dedup against a persisted IVF vector store —
the continuous-ingestion form of the r9 SemDeDup method (D24/D25
north star: an embedding catalog GROWS; every arriving vector batch
must be checked against everything already accepted without
recomputing the corpus).

State = a persistent IVF index dir (operators/ann_index.py layout):
``centroids`` (cid, cv, nc) and ``cells`` (vec_id, embedding, ne)
written ``partitionBy("cid")``. Seed it with
:func:`~..operators.ann_index.build_ivf_index` over the initial
catalog (stored verbatim, no dedup semantics — the analog of
incremental_dedup.build_signature_store); the centroids then DEFINE
the dedup geometry for every subsequent batch (append-only cells, no
Lloyd re-run — the add_vectors drift contract applies, monitor with
index_stats).

Per batch (:func:`process_semantic_batch`):

1. assign the batch in the store's PERSISTED mode (add_vectors' own
   batch intake: flat argmax against the centroids, or the persisted
   two-level prune on a two-level-built index — one bounded broadcast,
   identical arithmetic to the index build);
2. ``dup_of_store``: probe ONLY the touched cells (literal ``cid IN``
   partition pruning, the ivf_search shape) for store vectors with
   cosine >= SEMANTIC_T; dup_of = the most-similar store vector
   (tie -> lowest vec_id);
3. ``dup_in_batch``: store-survivors pair within the batch (same cell,
   cosine >= SEMANTIC_T), star connected components, only each
   component's min-vec_id canonical is accepted;
4. accepted vectors APPEND to their cells (ann_index.add_vectors —
   already idempotent on re-ingest); decisions return.

Semantics vs the batch :func:`~..operators.similarity.semdedup_prune`:
greedy keep-FIRST across batches (a vector is rejected only against
already-ACCEPTED content; the store never holds rejected vectors), and
min-id canonicals within a batch — NOT the batch rule's
keep-least-central member, which needs the whole component in hand.
Same contract gap as incremental_dedup vs dedup_cluster_canonical:
transitive chains split across batches keep both endpoints, and the
keeper choice differs from the batch rule even on a single batch —
what IS pinned (tests/test_semantic_stream.py) is that single-batch
decisions match an independent driver-side union-find over the same
centroid geometry.

Scale shape: the probe scans n_probed <= n_cells partitions of the
cells table, the pair work is cell-bounded (~|cell|^2 per touched
cell), and the store grows only with accepted unique vectors. Replay
safety under foreachBatch at-least-once: probe self-guard
(n.vec_id != s.vec_id), add_vectors' already-present skip, and
per-batch ``bid=`` decision overwrite in
:func:`semantic_stream_writer`. Vector ids must be unique across the
catalog (store + all batches share one id space); the self-guard
relies on it.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.planes import SEMANTIC_T
from ..operators._dedup_core import star_connected_components
from ..operators.ann_index import (
    _intake,
    _normed,
    _touched_cells,
    _touched_cids,
    add_vectors,
    index_mode,
)
from ..operators.similarity import _fast_cosine, semantic_cell_profile
from ..functions.vectors import as_double
from .bid_store import bid_sink

_LOG = logging.getLogger(__name__)

# semantic_cell_profile's documented pathology threshold (r12, VERDICT
# r11 #6): a batch whose max cell holds more than this share of the
# batch makes the in-cell pair join quadratic in that share. The
# BATCH pipeline rarely hits it (corpus_curate runs exact dedup
# first), but THIS store ingests raw streams where upstream gates may
# be absent — so the continuous path is where the flag must live.
# The effective threshold is max(MAX_SHARE_FLAG, 4/k) for a k-centroid
# store: a BALANCED batch has max_share ~ 1/k, so the absolute 0.1
# rule only discriminates when k >> 10 (the counted rule's sqrt(n)
# regime); on a small-k store the 4x-balanced-share term (the
# index_stats rebuild-at-skew>4 convention) keeps a healthy batch quiet.
MAX_SHARE_FLAG = 0.1


def process_semantic_batch(spark, emb: DataFrame, index_dir: str) -> DataFrame:
    """Run one (vec_id, embedding) batch through the store; returns
    decisions (vec_id, decision, dup_of) with decision in
    'accepted' | 'dup_of_store' | 'dup_in_batch' | 'zero_norm'.

    'zero_norm' marks vectors with no cosine cell — they pass through
    un-deduped (the analog of incremental_dedup's 'no_shingles').
    Intra-batch duplicate vec_ids collapse to one decision row per id
    (deterministic keeper, matching add_vectors' contract)."""
    from ..scratch import scoped_checkpoint

    ids = scoped_checkpoint(emb.select("vec_id").distinct())
    assigned = scoped_checkpoint(_intake(spark, index_dir, emb, index_mode(spark, index_dir)))

    # per-batch geometry diagnostic (r12, log-only — no behavior
    # change): exact-duplicate mass collapses identical vectors into
    # one cell, making the stage-2 pair join ~(max_share·batch)^2.
    # One bounded aggregation over the checkpointed assignment; the
    # operator flagged is the documented switch to the density-
    # adaptive quantizer (build_semantic_store centroids=) or an
    # upstream exact-dedup gate.
    prof = semantic_cell_profile(assigned)
    n_cent = spark.read.parquet(f"{index_dir}/centroids").count()
    share_flag = max(MAX_SHARE_FLAG, 4.0 / max(1, n_cent))
    if prof["total"] and prof["max_share"] > share_flag:
        _LOG.warning(
            "semantic-dedup batch cell profile: max_share=%.3f > %.2f "
            "(max_cell=%d of %d vectors in %d cells; pair_bound=%d) — "
            "duplicate-heavy batch; consider an upstream exact-dedup "
            "gate or the kmeans geometry (build_semantic_store "
            "centroids=)",
            prof["max_share"],
            share_flag,
            prof["max_cell"],
            prof["total"],
            prof["n_cells"],
            prof["pair_bound"],
        )

    # --- stage 1: against the store (touched cells only) ---
    cells = _touched_cells(spark, index_dir, _touched_cids(assigned))
    cos_s = _fast_cosine(
        as_double(F.col("n.embedding")),
        as_double(F.col("s.embedding")),
        F.col("n.ne"),
        F.col("s.ne"),
    )
    w_best = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("old_id"))
    store_dups = (
        assigned.alias("n")
        .join(
            cells.alias("s"),
            (F.col("n.cid") == F.col("s.cid")) & (F.col("n.vec_id") != F.col("s.vec_id")),
        )
        .where(cos_s >= SEMANTIC_T)
        .select(
            F.col("n.vec_id").alias("vec_id"),
            F.col("s.vec_id").alias("old_id"),
            cos_s.alias("cos"),
        )
        .withColumn("rn", F.row_number().over(w_best))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("old_id").alias("dup_of"))
    )
    store_dups = scoped_checkpoint(store_dups)

    # --- stage 2: within the batch, among store-survivors ---
    surv = assigned.join(store_dups.select("vec_id"), "vec_id", "left_anti")
    cos_b = _fast_cosine(
        as_double(F.col("x.embedding")),
        as_double(F.col("y.embedding")),
        F.col("x.ne"),
        F.col("y.ne"),
    )
    pairs = (
        surv.alias("x")
        .join(
            surv.alias("y"),
            (F.col("x.cid") == F.col("y.cid")) & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .where(cos_b >= SEMANTIC_T)
        .select(F.col("x.vec_id").alias("a"), F.col("y.vec_id").alias("b"))
    )
    parents, _ = star_connected_components(pairs)
    batch_dups = scoped_checkpoint(
        parents.select(F.col("a").alias("vec_id"), F.col("b").alias("dup_of"))
    )

    accepted = surv.join(batch_dups.select("vec_id"), "vec_id", "left_anti")

    # --- persist accepted vectors (add_vectors is replay-idempotent:
    # already-indexed ids are skipped by its touched-cells left_anti).
    # `accepted` already carries the (ne, cid) assignment of add_vectors'
    # own intake in the store's persisted mode, so skip its re-norm +
    # re-assign pass (r9 review) ---
    add_vectors(spark, index_dir, accepted, preassigned=True)

    return (
        ids.join(assigned.select("vec_id", F.lit(True).alias("has_cell")), "vec_id", "left")
        .join(store_dups.select("vec_id", F.col("dup_of").alias("d_store")), "vec_id", "left")
        .join(batch_dups.select("vec_id", F.col("dup_of").alias("d_batch")), "vec_id", "left")
        .select(
            "vec_id",
            F.when(F.col("has_cell").isNull(), F.lit("zero_norm"))
            .when(F.col("d_store").isNotNull(), F.lit("dup_of_store"))
            .when(F.col("d_batch").isNotNull(), F.lit("dup_in_batch"))
            .otherwise(F.lit("accepted"))
            .alias("decision"),
            F.coalesce("d_store", "d_batch").alias("dup_of"),
        )
    )


def semantic_stream_writer(spark, emb_stream: DataFrame, index_dir: str, decisions_dir: str):
    """Wire :func:`process_semantic_batch` into Structured Streaming:
    foreachBatch probes each micro-batch against the mutable index and
    writes decisions (vec_id, decision, dup_of, batch_id) under
    ``bid=<batch_id>`` with mode('overwrite') — a replayed batch
    replaces its own rows (the incremental_dedup replay contract; a
    replay may re-decide a former 'dup_in_batch' as 'dup_of_store'
    once its canonical is in the store — same dup_of). Returns the
    started StreamingQuery. Runs through bid_store.bid_sink."""
    return bid_sink(
        spark,
        emb_stream,
        index_dir,
        decisions_dir,
        lambda df, bid: process_semantic_batch(spark, df, index_dir),
    )


def build_semantic_store(
    spark, emb: DataFrame, index_dir: str, centroids: DataFrame | None = None
) -> None:
    """Seed a semantic-dedup store whose geometry IS the deterministic
    counted-n centroid rule of similarity.ivf_assign (r11: count the
    seed corpus once, stride = ceil(n/floor(sqrt(n))), every stride-th
    vec_id) — the geometry the BATCH pipeline's semantic stage
    (corpus_curate) derives pairs from, so streamed decisions over this
    store are comparable to the batch stage (pinned on the full
    fixture). n is FROZEN at build time (centroids must be immutable
    for add_vectors' replay contract); later batches assign against
    these persisted centroids, exactly as the batch rule assigns
    against the full-corpus centroid set. Cells start EMPTY: unlike
    build_ivf_index's verbatim catalog, a dedup store holds ACCEPTED
    content only (the band-store analog); the first accepted batch
    creates the cells table.

    ``centroids``: an explicit (cid, cv array<double>, nc) quantizer to
    write instead of the stride rule — r10: pass
    ann_index.kmeans_centroids(...) to run the continuous store on the
    fixed-k sampled-k-means geometry (the 100 TB form), and feed the
    SAME frame to corpus_curate via kmeans_assign(centroids=) for
    streamed≡batch comparability (pinned on the full fixture in
    tests/test_incremental_curate.py)."""
    if centroids is not None:
        centroids.select("cid", "cv", "nc").write.mode("overwrite").parquet(
            os.path.join(index_dir, "centroids")
        )
        return
    from ..functions.planes import counted_stride_col

    # the count runs over the UNFILTERED seed frame (the batch rule's n
    # counts every embeddings row, zero-norm included), while the
    # persisted centroids keep _normed's zero-norm exclusion — a
    # zero-norm centroid id would divide by zero in every probe cosine
    nrow = emb.agg(F.count(F.lit(1)).alias("n_emb"))
    (
        _normed(emb.select("vec_id", "embedding"), "embedding", "ne")
        .crossJoin(F.broadcast(nrow))
        .where(F.col("vec_id") % counted_stride_col(F.col("n_emb")) == 0)
        .select(
            F.col("vec_id").alias("cid"),
            as_double(F.col("embedding")).alias("cv"),
            F.col("ne").alias("nc"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(index_dir, "centroids"))
    )
