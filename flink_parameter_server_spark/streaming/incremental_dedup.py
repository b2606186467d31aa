"""Incremental near-dup dedup against a persisted signature store —
the continuous-ingestion form of D24 (north-star: a 100 TB corpus is
not deduped once, it GROWS; every arriving batch must be checked
against everything already accepted without recomputing the corpus).

State = two append-only parquet tables under ``store_dir``:

- ``bands``    (doc_id, b, band_key) — MinHash-LSH band signatures of
  every ACCEPTED doc (N_BANDS rows/doc), written ``partitionBy("b")``
  so the candidate probe scans band-by-band.
- ``shingles`` (doc_id, shingles)    — the exact-verify sets.

Per batch (:func:`process_batch`):

1. signature the batch with the SAME seeded pipeline as the batch
   operators (operators/dedup.py token_hashes -> shingle_sets ->
   minhash_bands — bit-identical keys, so incremental and batch modes
   agree by construction);
2. ``dup_of_store``: batch bands equi-join store bands on (b,
   band_key), exact Jaccard >= JACCARD_T verify against store
   shingles;
3. ``dup_in_batch``: survivors near-dup-clustered within the batch
   (star connected components over the verified pair graph); only each
   cluster's min-doc_id canonical is accepted;
4. accepted docs' signatures APPEND to the store; decisions return.

Semantics vs batch `dedup_cluster_canonical` — greedy keep-first, NOT
connected components across batches: a doc is rejected only if it
matches an ACCEPTED doc; rejected docs' signatures are not retained,
so a transitive chain A~B, B~C (A !~ C) split across batches keeps A
AND C, where whole-corpus CC keeps only A. That is the standard
streaming-dedup contract (the store stays bounded by accepted docs,
the decision for a doc never changes retroactively) and exactly
matches batch mode on chain-free corpora — both pinned in
tests/test_incremental_dedup.py.

Scale shape: the probe is a keyed equi-join against a partition-pruned
band scan; no step depends on batch count, and the store grows only
with ACCEPTED (unique) content. Wire into Structured Streaming with
:func:`dedup_stream_writer` (foreachBatch — the right tool when a
micro-batch must join mutable external state and update it per
batch). foreachBatch is at-least-once, not transactional: replay
safety comes from idempotent writes — the probe's self-guard, the
already-present append skip, and per-batch decision overwrite (the
``bid=<batch_id>`` sink every incremental writer shares,
streaming/bid_store.py). Doc ids must be unique across the
corpus (store + all batches share one id space); the self-guard
relies on it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators._dedup_core import (
    JACCARD_T,
    minhash_bands,
    shingle_sets,
    star_connected_components,
    token_hashes,
)
from ..scratch import pinned, scoped_checkpoint
from ..sources.fsutil import path_exists, read_or_empty, swap_in
from .bid_store import bid_sink

_BANDS_SCHEMA = "doc_id bigint, b int, band_key bigint"
_SH_SCHEMA = "doc_id bigint, shingles array<bigint>"


def _store(spark, store_dir: str, name: str, schema: str) -> DataFrame:
    # existence via the Hadoop FS API (r11, ADVICE r10 class): a
    # driver-local isdir silently reads a populated remote store as
    # EMPTY — every batch would then dedup against nothing
    return read_or_empty(spark, os.path.join(store_dir, name), schema)


def signatures(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(shingles, bands) for a (doc_id, text) batch — the exact batch
    pipeline arithmetic (seeded, oracle-replayable)."""
    sh = scoped_checkpoint(shingle_sets(token_hashes(docs.select("doc_id", "text"))))
    return sh, minhash_bands(sh)


def process_batch(
    spark,
    docs: DataFrame,
    store_dir: str,
    sigs=None,
    append: bool = True,
) -> DataFrame:
    """Run one batch through the store; returns decisions
    (doc_id, decision, dup_of) with decision in
    'accepted' | 'dup_of_store' | 'dup_in_batch' | 'no_shingles'.

    ``dup_of`` is the (min) accepted doc the rejection traces to;
    'no_shingles' marks docs too short to signature (< 3 tokens) —
    they pass through un-deduped, mirroring the batch operators'
    len >= SHINGLE_N gate.

    ``sigs``: optional precomputed ``(sh, bands)`` from
    :func:`signatures` over a SUPERSET of ``docs`` (filtered here by
    doc_id) — lets a composing pipeline (incremental_curate) signature
    each batch once instead of once per stage.

    ``append=False`` skips the store writes: a composing pipeline with
    LATER gates (incremental_curate's r9 semantic stage) must persist
    signatures only for docs accepted END-TO-END — the store's
    keep-first contract is "rejected only against accepted content",
    which breaks if a later stage rejects a doc whose signatures
    already landed. The caller then appends via
    :func:`append_signatures` after its final gate.
    """
    docs = scoped_checkpoint(docs.select("doc_id", "text"))
    if sigs is None:
        sh, bands = signatures(docs)
    else:
        batch_ids = docs.select("doc_id")
        sh = sigs[0].join(batch_ids, "doc_id", "left_semi")
        bands = sigs[1].join(batch_ids, "doc_id", "left_semi")
    bands = scoped_checkpoint(bands)

    store_bands = _store(spark, store_dir, "bands", _BANDS_SCHEMA)
    store_sh = _store(spark, store_dir, "shingles", _SH_SCHEMA)

    # --- stage 1: against the store ---
    # The self-guard (n.doc_id != s.doc_id) makes REPLAY idempotent:
    # foreachBatch is at-least-once, so a replayed micro-batch probes a
    # store that already holds its own accepted docs — without the
    # guard they'd reclassify as dup_of_store of themselves (ADVICE
    # r7). Store and batches share one corpus id space by contract
    # (docstring), so an equal id IS the same doc, not a collision.
    cand_store = (
        bands.alias("n")
        .join(
            store_bands.alias("s"),
            (F.col("n.b") == F.col("s.b"))
            & (F.col("n.band_key") == F.col("s.band_key"))
            & (F.col("n.doc_id") != F.col("s.doc_id")),
        )
        .select(F.col("n.doc_id").alias("doc_id"), F.col("s.doc_id").alias("old_id"))
        .distinct()
    )
    store_dups = (
        cand_store.join(sh.select(F.col("doc_id"), F.col("shingles").alias("sh_n")), "doc_id")
        .join(
            store_sh.select(F.col("doc_id").alias("old_id"), F.col("shingles").alias("sh_s")),
            "old_id",
        )
        .where(
            F.size(F.array_intersect("sh_n", "sh_s")).cast("double")
            / F.size(F.array_union("sh_n", "sh_s"))
            >= JACCARD_T
        )
        .groupBy("doc_id")
        .agg(F.min("old_id").alias("dup_of"))
    )
    store_dups = scoped_checkpoint(store_dups)

    # --- stage 2: within the batch, among store-survivors ---
    surv = scoped_checkpoint(sh.join(store_dups.select("doc_id"), "doc_id", "left_anti"))
    sbands = minhash_bands(surv)
    a, b = sbands.alias("a"), sbands.alias("b")
    cand_in = (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    pairs = (
        cand_in.join(surv.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")), "doc_a")
        .join(surv.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")), "doc_b")
        .where(
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b"))
            >= JACCARD_T
        )
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    )
    parents, _ = star_connected_components(pairs)
    batch_dups = scoped_checkpoint(
        parents.select(F.col("a").alias("doc_id"), F.col("b").alias("dup_of"))
    )

    accepted = surv.join(batch_dups.select("doc_id"), "doc_id", "left_anti")

    # --- persist accepted signatures (append-only, replay-idempotent;
    # presence-skip semantics in _append_sig_frames) ---
    if append:
        _append_sig_frames(store_dir, store_bands, store_sh, accepted)

    return (
        docs.select("doc_id")
        .join(sh.select("doc_id", F.lit(True).alias("has_sh")), "doc_id", "left")
        .join(store_dups.select("doc_id", F.col("dup_of").alias("d_store")), "doc_id", "left")
        .join(batch_dups.select("doc_id", F.col("dup_of").alias("d_batch")), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("has_sh").isNull(), F.lit("no_shingles"))
            .when(F.col("d_store").isNotNull(), F.lit("dup_of_store"))
            .when(F.col("d_batch").isNotNull(), F.lit("dup_in_batch"))
            .otherwise(F.lit("accepted"))
            .alias("decision"),
            F.coalesce("d_store", "d_batch").alias("dup_of"),
        )
    )


def _append_sig_frames(store_dir, store_bands, store_sh, accepted) -> None:
    """Append an accepted (doc_id, shingles) frame to both store
    tables with the per-table presence skip (bands are written first,
    so a crash between the writes leaves a doc bands-only; each table
    skips what IT already has — review r8)."""
    present_bands = store_bands.select("doc_id").distinct()
    present_sh = store_sh.select("doc_id")
    new_for_bands = scoped_checkpoint(accepted.join(present_bands, "doc_id", "left_anti"))
    minhash_bands(new_for_bands).write.mode("append").partitionBy("b").parquet(
        os.path.join(store_dir, "bands")
    )
    accepted.join(present_sh, "doc_id", "left_anti").select(
        "doc_id", "shingles"
    ).write.mode("append").parquet(os.path.join(store_dir, "shingles"))


def append_signatures(spark, store_dir: str, sh, accepted_ids) -> None:
    """Deferred half of ``process_batch(append=False)``: persist
    signatures for the docs that survived EVERY downstream gate.
    ``sh``: the (doc_id, shingles) frame the batch was signatured with;
    ``accepted_ids``: a (doc_id) frame of the end-to-end survivors."""
    store_bands = _store(spark, store_dir, "bands", _BANDS_SCHEMA)
    store_sh = _store(spark, store_dir, "shingles", _SH_SCHEMA)
    accepted = sh.join(accepted_ids, "doc_id", "left_semi")
    _append_sig_frames(store_dir, store_bands, store_sh, accepted)


def build_signature_store(spark, docs: DataFrame, store_dir: str) -> None:
    """Seed a store from a static corpus WITHOUT dedup semantics: every
    doc's signatures persist (the store = that corpus verbatim). The
    decontamination primitive: build the store from the EVAL/BENCHMARK
    set, then :func:`contamination_check` any training corpus against
    it — the GPT-3/Pile decontamination shape, reusing the identical
    probe join. The writes consume the signature checkpoint, so it
    frees here."""
    with pinned(spark):
        sh, bands = signatures(docs)
        bands.write.mode("append").partitionBy("b").parquet(os.path.join(store_dir, "bands"))
        sh.select("doc_id", "shingles").write.mode("append").parquet(
            os.path.join(store_dir, "shingles")
        )


def contamination_check(
    spark, docs: DataFrame, store_dir: str, sigs=None
) -> DataFrame:
    """(doc_id, contaminated_by) — training docs that near-duplicate a
    store (eval-set) doc; clean docs are absent. Read-only: unlike
    :func:`process_batch` nothing appends, so the same eval store
    screens any number of corpora. ``sigs``: optional precomputed
    ``(sh, bands)`` for ``docs`` (see :func:`process_batch`)."""
    sh, bands = signatures(docs) if sigs is None else sigs
    store_bands = _store(spark, store_dir, "bands", _BANDS_SCHEMA)
    store_sh = _store(spark, store_dir, "shingles", _SH_SCHEMA)
    cand = (
        bands.alias("n")
        .join(
            store_bands.alias("s"),
            (F.col("n.b") == F.col("s.b")) & (F.col("n.band_key") == F.col("s.band_key")),
        )
        .select(F.col("n.doc_id").alias("doc_id"), F.col("s.doc_id").alias("old_id"))
        .distinct()
    )
    return (
        cand.join(sh.select("doc_id", F.col("shingles").alias("sh_n")), "doc_id")
        .join(
            store_sh.select(F.col("doc_id").alias("old_id"), F.col("shingles").alias("sh_s")),
            "old_id",
        )
        .where(
            F.size(F.array_intersect("sh_n", "sh_s")).cast("double")
            / F.size(F.array_union("sh_n", "sh_s"))
            >= JACCARD_T
        )
        .groupBy("doc_id")
        .agg(F.min("old_id").alias("contaminated_by"))
    )


def compact_store(spark, store_dir: str, target_files_per_band: int = 1) -> None:
    """Rewrite the append-only store coalesced: every micro-batch
    appends one file per touched band partition, so a long-lived store
    accumulates thousands of small files (the classic streaming-sink
    pathology — at 100 TB the band scan becomes metadata-bound).
    Rewrites into a sibling dir then swaps atomically-enough for a
    single-writer store (run between batches, not concurrently with
    one). All filesystem ops route through the Hadoop FS API (fsutil —
    r12, VERDICT r11 #2), so the maintenance path works on the same
    hdfs://s3a:// store the read path probes; the object-store rename
    window (rename = copy) is covered by the same single-writer
    between-batches discipline."""
    # "hashes" is the streaming-curation exact-dup table
    # (incremental_curate.py) — same append-per-batch small-file growth
    for name, part in (("bands", "b"), ("shingles", None), ("hashes", None)):
        path = os.path.join(store_dir, name)
        if not path_exists(spark, path):
            continue
        df = spark.read.parquet(path)
        if part:
            write = df.repartition(target_files_per_band, part).write.mode(
                "overwrite"
            ).partitionBy(part).parquet
        else:
            write = df.coalesce(max(1, target_files_per_band)).write.mode("overwrite").parquet
        swap_in(spark, path, write)


def dedup_stream_writer(spark, docs_stream: DataFrame, store_dir: str, decisions_dir: str):
    """Wire :func:`process_batch` into a Structured Streaming query:
    foreachBatch joins each micro-batch against the mutable store and
    writes decisions to ``decisions_dir`` (doc_id, decision, dup_of,
    batch_id). Returns the started StreamingQuery.

    Replay idempotency (foreachBatch is at-least-once, ADVICE r7):
    each batch's decisions land under a ``bid=<batch_id>`` subdir with
    mode('overwrite'), so a replayed batch replaces its own rows
    instead of appending duplicates; the store side is idempotent via
    process_batch's self-guard + already-present skip. A replayed
    batch may re-decide a former 'dup_in_batch' as 'dup_of_store' (its
    canonical is in the store by then) — same ``dup_of``, and the
    overwrite keeps exactly one decision row per doc (bid_store.bid_sink,
    shared by all four stream writers)."""
    return bid_sink(
        spark,
        docs_stream,
        store_dir,
        decisions_dir,
        lambda df, bid: process_batch(spark, df, store_dir),
    )
