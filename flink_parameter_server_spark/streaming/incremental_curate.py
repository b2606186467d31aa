"""Streaming corpus curation — the continuous-ingestion form of the
batch pipeline in operators/curate.py (which is the one-shot form of
THIS operator: at 100 TB a corpus is not curated once, it arrives).

Per micro-batch (:func:`curate_batch`), one decision per input doc, in
the batch pipeline's stage order:

1. quality gate (map-only; the same CURATE_MIN_CHARS/MIN_TOKENS
   structural gate) -> 'rejected:quality';
2. exact dedup, batch-then-store: min-doc_id keeper per normalized
   content hash within the batch ('rejected:exact_dup'), then keepers
   probe the store's persisted hash set ('rejected:exact_dup_store');
3. eval decontamination: survivors that near-duplicate a doc in a
   READ-ONLY eval signature store (built once from the benchmark set
   via incremental_dedup.build_signature_store) ->
   'rejected:contaminated';
4. near-dup vs the accepted-content store + within-batch star-CC
   (incremental_dedup.process_batch verbatim) -> 'rejected:near_dup'
   with store/batch provenance folded into `dup_of`;
5. OPTIONAL semantic dedup (r9; pass ``emb`` + ``semantic_store_dir``):
   survivors' embeddings probe the persisted IVF vector store
   (semantic_dedup.process_semantic_batch) -> 'rejected:semantic_dup';
   with this stage on, the stage-4/6 store writes are DEFERRED until
   after it so every store holds end-to-end-accepted content only;
6. survivors -> 'accepted'; their exact hashes and minhash signatures
   APPEND to the store (replay-idempotent: per-table presence skip,
   same discipline as process_batch).

Greedy keep-first semantics across batches, exactly like the near-dup
store (a doc is rejected only against ACCEPTED content; decisions
never change retroactively). Too-short docs that pass the quality gate
but cannot be signatured keep process_batch's 'no_shingles'
passthrough.

State = incremental_dedup's (bands, shingles) tables plus one
``hashes`` table (doc_id, h) under ``store_dir``; the eval store is a
SEPARATE directory, never written by this module.

Scale shape: stage 1 map-only; stage 2 one shuffle on the content hash
plus a keyed probe of the hash store; stages 3-4 the partition-pruned
band probes; appends grow only with accepted unique content. Wire into
Structured Streaming with :func:`curate_stream_writer` (the shared
bid_store.bid_sink: per-batch decision overwrite under bid=<batch_id>
— at-least-once replay safe for the same reasons as
dedup_stream_writer).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .bid_store import bid_sink
from .incremental_dedup import contamination_check, process_batch

_HASH_SCHEMA = "doc_id bigint, h string"


def curate_batch(
    spark,
    docs: DataFrame,
    store_dir: str,
    eval_store_dir: str | None = None,
    min_chars: int | None = None,
    min_tokens: int | None = None,
    emb: DataFrame | None = None,
    semantic_store_dir: str | None = None,
    quality_rules=None,
) -> DataFrame:
    """Run one (doc_id, text, n_chars) batch through the curation
    stages; returns (doc_id, decision, dup_of). Thresholds default to
    the batch pipeline's CURATE_MIN_CHARS / CURATE_MIN_TOKENS.

    ``quality_rules`` (r13): the opt-in Gopher Table A1 threshold gate
    — the streaming dual of corpus_curate's stage 1b, same parameter
    values, same map-only _gopher_core.gopher_reason_frame, decision
    'rejected:quality:<rule>' (first failing rule in published
    order). Per-batch doc-local signals, so streamed decisions equal
    the batch pipeline's for the same content (pinned in
    tests/test_incremental_curate.py).

    ``emb`` + ``semantic_store_dir`` (r9, both or neither): enable the
    SEMANTIC dedup stage after near-dup, mirroring corpus_curate's r9
    stage order. ``emb`` is a (vec_id, embedding) frame covering (at
    least) the batch's docs in the shared doc-id space; the store is a
    persisted IVF layout seeded by semantic_dedup.build_semantic_store
    (stride-rule centroids -> decisions comparable to the batch
    pipeline, pinned on the full fixture) or build_ivf_index. Docs
    without an embedding row (or zero-norm) pass the stage un-deduped.
    With the stage on, the near-dup/hash store writes are DEFERRED
    until after it (process_batch(append=False) + append_signatures),
    so every store holds end-to-end-accepted content only."""
    from ..functions.text import tokens
    from ..operators.curate import CURATE_MIN_CHARS, CURATE_MIN_TOKENS
    from ..scratch import scoped_checkpoint

    min_chars = CURATE_MIN_CHARS if min_chars is None else min_chars
    min_tokens = CURATE_MIN_TOKENS if min_tokens is None else min_tokens

    docs = scoped_checkpoint(docs.select("doc_id", "text", "n_chars"))

    # stage 1 — quality gate
    q_ok = (F.col("n_chars") >= min_chars) & (
        F.size(tokens(F.col("text"))) >= min_tokens
    )
    gated = docs.select("doc_id", "text", q_ok.alias("q_ok"))
    surv_q = gated.where("q_ok")

    # stage 1b (r13, opt-in) — Gopher Table A1 gate over structural
    # survivors; doc-local map-only signals, rejected docs never reach
    # the dedup stages or any store write
    if quality_rules:
        from ..operators._gopher_core import gopher_reason_frame
        from ..operators._util import fan_out

        # checkpoint BEFORE filtering (r13): a filter on g_reason inside
        # the checkpointed plan sinks through every signal projection by
        # alias substitution and rebuilds the whole per-doc tree inside
        # one predicate (measured: a 500-doc batch went from minutes to
        # seconds) — the gopher_reason_frame consumption contract.
        # fan_out (r14): a micro-batch arriving in 1-2 partitions would
        # evaluate the signal tree near-serial — same measured fix as
        # the batch pipeline's stage 1b
        g_all = scoped_checkpoint(
            gopher_reason_frame(fan_out(surv_q.select("doc_id", "text")), quality_rules)
        )
        g_rej = g_all.where(F.col("g_reason").isNotNull())
        surv_q = surv_q.join(g_rej.select("doc_id"), "doc_id", "left_anti")
    else:
        g_rej = spark.createDataFrame([], "doc_id bigint, g_reason string")

    # stage 2 — exact dedup: batch keeper, then store probe
    from ..operators._dedup_core import norm_content_hash

    hashed = surv_q.select("doc_id", "text", norm_content_hash("text").alias("h"))
    hashed = scoped_checkpoint(
        hashed.withColumn("keeper", F.min("doc_id").over(Window.partitionBy("h")))
    )
    exact_batch = hashed.where(F.col("doc_id") != F.col("keeper")).select(
        "doc_id", F.col("keeper").alias("dup_of")
    )
    keepers = hashed.where(F.col("doc_id") == F.col("keeper"))
    from ..sources.fsutil import read_or_empty

    # FS-API existence (r11): the silent-empty-store read class
    hash_path = os.path.join(store_dir, "hashes")
    store_h = read_or_empty(spark, hash_path, _HASH_SCHEMA)
    exact_store = (
        keepers.join(
            store_h.select(F.col("h"), F.col("doc_id").alias("dup_of")), "h"
        )
        # replay self-guard, same id-space contract as the band store
        .where(F.col("doc_id") != F.col("dup_of"))
        .groupBy("doc_id")
        .agg(F.min("dup_of").alias("dup_of"))
    )
    exact_store = scoped_checkpoint(exact_store)
    surv_e = keepers.join(exact_store.select("doc_id"), "doc_id", "left_anti")

    # stages 3+4 signature the batch ONCE (the token-hash build is the
    # expensive part) and share the (sh, bands) pair: decontamination
    # probes with the exact-survivor superset, the near-dup stage
    # filters it to its own survivors (r8 simplify pass)
    from .incremental_dedup import signatures

    sigs = signatures(surv_e.select("doc_id", "text"))

    # stage 3 — eval decontamination (read-only probe)
    if eval_store_dir is not None:
        contam = (
            contamination_check(
                spark, surv_e.select("doc_id", "text"), eval_store_dir, sigs=sigs
            ).select("doc_id", F.col("contaminated_by").alias("dup_of"))
        )
        contam = scoped_checkpoint(contam)
    else:
        contam = spark.createDataFrame([], "doc_id bigint, dup_of bigint")
    surv_c = surv_e.join(contam.select("doc_id"), "doc_id", "left_anti")

    # stage 4 — near-dup vs store + within batch (process_batch
    # verbatim; store appends deferred when a semantic stage follows)
    semantic_on = emb is not None and semantic_store_dir is not None
    near = process_batch(
        spark,
        surv_c.select("doc_id", "text"),
        store_dir,
        sigs=sigs,
        append=not semantic_on,
    )

    # stage 5 (optional, r9) — SEMANTIC dedup among near-dup survivors
    # against the persisted vector store (greedy keep-first across
    # batches; in-batch min-id canonicals — process_semantic_batch).
    if semantic_on:
        from .semantic_dedup import process_semantic_batch

        surv_n = near.where(
            "decision IN ('accepted', 'no_shingles')"
        ).select(F.col("doc_id").alias("vec_id"))
        emb_surv = emb.select("vec_id", "embedding").join(surv_n, "vec_id", "left_semi")
        sem = process_semantic_batch(spark, emb_surv, semantic_store_dir)
        sem_rej = scoped_checkpoint(
            sem.where("decision IN ('dup_of_store', 'dup_in_batch')").select(
                F.col("vec_id").alias("doc_id"), "dup_of"
            )
        )
    else:
        sem_rej = spark.createDataFrame([], "doc_id bigint, dup_of bigint")

    # resolve near-dup in-batch provenance through the semantic stage:
    # an in-batch near canonical that is itself semantic-rejected
    # forwards to ITS canonical (dup_of is a canonical, never a chain —
    # the r9 provenance contract). Store-probe targets are safe by
    # construction: with deferred appends the band store holds only
    # end-to-end-accepted docs.
    near = near.join(
        sem_rej.select(F.col("doc_id").alias("dup_of"), F.col("dup_of").alias("sc")),
        "dup_of",
        "left",
    ).select("doc_id", "decision", F.coalesce("sc", "dup_of").alias("dup_of"))

    # canonical (not chained) provenance (ADVICE r8 + r9 review): if
    # the batch keeper itself is rejected at ANY later stage — exact
    # store, contamination, or near-dup (store or in-batch) — its batch
    # duplicates would carry dup_of=<keeper>, a doc rejected in the
    # SAME batch, forcing consumers to chase dup_of transitively.
    # Identical text => identical downstream fate, so rewrite those
    # dup_of to the keeper's own canonical: every dup_of then points at
    # accepted content (or, for a contaminated keeper, at the eval doc
    # the shared content collides with — the decontamination
    # provenance contract).
    keeper_canon = (
        keepers.select("doc_id")
        .join(exact_store.select("doc_id", F.col("dup_of").alias("c_es")), "doc_id", "left")
        .join(contam.select("doc_id", F.col("dup_of").alias("c_ct")), "doc_id", "left")
        .join(
            near.where(F.col("decision").isin("dup_of_store", "dup_in_batch")).select(
                "doc_id", F.col("dup_of").alias("c_nd")
            ),
            "doc_id",
            "left",
        )
        .join(sem_rej.select("doc_id", F.col("dup_of").alias("c_sd")), "doc_id", "left")
        .select(
            F.col("doc_id").alias("dup_of"),
            F.coalesce("c_es", "c_ct", "c_nd", "c_sd").alias("canon"),
        )
        .where(F.col("canon").isNotNull())
    )
    exact_batch = exact_batch.join(keeper_canon, "dup_of", "left").select(
        "doc_id", F.coalesce("canon", "dup_of").alias("dup_of")
    )

    # persist accepted exact hashes (replay-idempotent presence skip);
    # with the semantic stage on, "accepted" = survived EVERY gate, and
    # the deferred near-dup signature append happens here too
    accepted_ids = (
        near.where("decision IN ('accepted', 'no_shingles')")
        .join(sem_rej.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id")
    )
    if semantic_on:
        from .incremental_dedup import append_signatures

        append_signatures(spark, store_dir, sigs[0], accepted_ids)
    new_hashes = (
        keepers.join(accepted_ids, "doc_id", "left_semi")
        .select("doc_id", "h")
        .join(store_h.select("doc_id"), "doc_id", "left_anti")
    )
    new_hashes.write.mode("append").parquet(hash_path)

    # assemble one decision per input doc, stage precedence preserved
    return (
        docs.select("doc_id")
        .join(gated.select("doc_id", "q_ok"), "doc_id", "left")
        .join(g_rej.select("doc_id", "g_reason"), "doc_id", "left")
        .join(exact_batch.select("doc_id", F.col("dup_of").alias("d_eb")), "doc_id", "left")
        .join(exact_store.select("doc_id", F.col("dup_of").alias("d_es")), "doc_id", "left")
        .join(contam.select("doc_id", F.col("dup_of").alias("d_ct")), "doc_id", "left")
        .join(
            near.select("doc_id", F.col("decision").alias("nd"), F.col("dup_of").alias("d_nd")),
            "doc_id",
            "left",
        )
        .join(sem_rej.select("doc_id", F.col("dup_of").alias("d_sd")), "doc_id", "left")
        .select(
            "doc_id",
            F.when(~F.coalesce("q_ok", F.lit(False)), F.lit("rejected:quality"))
            .when(
                F.col("g_reason").isNotNull(),
                F.concat(F.lit("rejected:quality:"), F.col("g_reason")),
            )
            .when(F.col("d_eb").isNotNull(), F.lit("rejected:exact_dup"))
            .when(F.col("d_es").isNotNull(), F.lit("rejected:exact_dup_store"))
            .when(F.col("d_ct").isNotNull(), F.lit("rejected:contaminated"))
            .when(F.col("nd") == "dup_of_store", F.lit("rejected:near_dup"))
            .when(F.col("nd") == "dup_in_batch", F.lit("rejected:near_dup"))
            .when(F.col("d_sd").isNotNull(), F.lit("rejected:semantic_dup"))
            .when(F.col("nd") == "no_shingles", F.lit("accepted"))
            .otherwise(F.lit("accepted"))
            .alias("decision"),
            F.coalesce("d_eb", "d_es", "d_ct", "d_nd", "d_sd").alias("dup_of"),
        )
    )


def curate_stream_writer(
    spark,
    docs_stream: DataFrame,
    store_dir: str,
    decisions_dir: str,
    eval_store_dir: str | None = None,
    emb: DataFrame | None = None,
    semantic_store_dir: str | None = None,
    quality_rules=None,
):
    """foreachBatch wire-up: each micro-batch curates against the
    mutable store and writes decisions under bid=<batch_id> with
    overwrite (at-least-once replay keeps one decision row per doc;
    store writes are presence-skipped — the dedup_stream_writer
    discipline). The decisions write is the consumption barrier for
    every checkpoint curate_batch pinned, so each batch frees its own
    scratch (ADVICE r8: a long stream otherwise accumulates pinned RDD
    blocks between driver GC cycles)."""
    return bid_sink(
        spark,
        docs_stream,
        store_dir,
        decisions_dir,
        lambda df, bid: curate_batch(
            spark,
            df,
            store_dir,
            eval_store_dir,
            emb=emb,
            semantic_store_dir=semantic_store_dir,
            quality_rules=quality_rules,
        ),
    )
