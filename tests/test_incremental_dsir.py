"""Continuous DSIR importance weighting (r10,
streaming/incremental_dsir.py): per-batch count deltas into a
persisted DSIR_B-bucket store, weights stamped under the store state
at arrival (greedy-stamp contract). Pins (1) single-batch ≡ the batch
dsir_micro EXACTLY, (2) the stamp semantics across batches (the last
batch sees the full corpus; rescore refreshes stale stamps to the
batch pipeline's values), (3) replay idempotency of the count store,
(4) store size bounded by DSIR_B per batch, (5) the Structured
Streaming wireup."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from flink_parameter_server_spark.operators._dsir_core import DSIR_B, dsir_micro
from flink_parameter_server_spark.operators._util import t
from flink_parameter_server_spark.streaming.bid_store import folded_bids
from flink_parameter_server_spark.streaming.incremental_dsir import (
    compact_dsir_counts,
    dsir_stream_writer,
    process_dsir_batch,
    read_dsir_counts,
    rescore_dsir,
)
from tests.conftest import SF_SMALL


def _docs(spark):
    return t(spark, SF_SMALL, "documents").select("doc_id", "lang", "text")


def _wmap(df):
    return {r["doc_id"]: (r["smic"], r["ntok"]) for r in df.collect()}


def test_single_batch_equals_batch_pipeline(spark, tmp_path):
    """One batch over an empty store IS the whole corpus — weights must
    equal dsir_micro bit-for-bit (shared _dsir_core arithmetic)."""
    store = str(tmp_path / "store")
    d = _docs(spark)
    got = _wmap(process_dsir_batch(spark, d, store, 0))
    want = _wmap(dsir_micro(d))
    assert got == want and got


def test_cross_batch_stamps_and_rescore(spark, tmp_path):
    """Split the corpus in two: batch-1 stamps see only batch-1's
    distributions (stale by design), batch-2 stamps see the FULL
    corpus and must equal dsir_micro over the concatenation for those
    docs; rescore over everything equals the batch pipeline exactly."""
    store = str(tmp_path / "store")
    d = _docs(spark)
    b1 = d.where(F.col("doc_id") % 2 == 0)
    b2 = d.where(F.col("doc_id") % 2 == 1)
    w1 = _wmap(process_dsir_batch(spark, b1, store, 0))
    w2 = _wmap(process_dsir_batch(spark, b2, store, 1))
    full = _wmap(dsir_micro(d))
    # batch-1 stamps match dsir_micro over batch-1 ALONE (its store
    # state at arrival), not the full corpus
    w1_alone = _wmap(dsir_micro(b1))
    assert w1 == w1_alone
    assert any(w1[k] != full[k] for k in w1), "stale-stamp contract untested"
    # batch-2 arrived when the store held everything: full-corpus values
    assert w2 == {k: v for k, v in full.items() if k in w2} and w2
    # rescore refreshes every stamp to the batch pipeline's values
    assert _wmap(rescore_dsir(spark, d, store)) == full


def test_replay_overwrites_own_delta(spark, tmp_path):
    """foreachBatch is at-least-once: re-processing a batch with the
    same bid must leave the aggregated counts (and rescored weights)
    unchanged."""
    store = str(tmp_path / "store")
    d = _docs(spark)
    b1 = d.where(F.col("doc_id") % 2 == 0)
    b2 = d.where(F.col("doc_id") % 2 == 1)
    process_dsir_batch(spark, b1, store, 0).collect()
    process_dsir_batch(spark, b2, store, 1).collect()
    before = {r["b"]: (r["cr"], r["ct"]) for r in read_dsir_counts(spark, store).collect()}
    w_before = _wmap(rescore_dsir(spark, d, store))
    process_dsir_batch(spark, b1, store, 0).collect()  # replay
    after = {r["b"]: (r["cr"], r["ct"]) for r in read_dsir_counts(spark, store).collect()}
    assert after == before
    assert _wmap(rescore_dsir(spark, d, store)) == w_before
    # the store is bounded: <= DSIR_B aggregated rows regardless of batches
    assert len(after) <= DSIR_B


@pytest.mark.slow
def test_compaction_preserves_weights_and_replay(spark, tmp_path):
    """r11 (VERDICT r10 missing-#3): compact_dsir_counts folds every
    bid delta into one file. Pins (1) aggregated counts and rescored
    weights identical pre/post compaction, (2) the store's file count
    actually shrinks to one delta dir, (3) replay of an
    already-compacted bid is STILL idempotent — the folded-bid set
    makes it skip its delta write while stamping weights, (4) ingest
    after compaction keeps summing correctly, and a second compaction
    folds the new bid too."""
    store = str(tmp_path / "store")
    d = _docs(spark)
    b1 = d.where(F.col("doc_id") % 3 == 0)
    b2 = d.where(F.col("doc_id") % 3 == 1)
    b3 = d.where(F.col("doc_id") % 3 == 2)
    process_dsir_batch(spark, b1, store, 0).collect()
    process_dsir_batch(spark, b2, store, 1).collect()
    before = {r["b"]: (r["cr"], r["ct"]) for r in read_dsir_counts(spark, store).collect()}
    w_before = _wmap(rescore_dsir(spark, b1.unionByName(b2), store))

    assert compact_dsir_counts(spark, store) == 2
    assert folded_bids(spark, os.path.join(store, "counts")) == {0, 1}
    after = {r["b"]: (r["cr"], r["ct"]) for r in read_dsir_counts(spark, store).collect()}
    assert after == before
    assert _wmap(rescore_dsir(spark, b1.unionByName(b2), store)) == w_before
    # exactly one delta dir remains (plus the hidden _folded marker)
    entries = sorted(os.listdir(os.path.join(store, "counts")))
    assert [e for e in entries if not e.startswith("_")] == ["compact"]

    # replay of a folded bid: counts unchanged, weights still stamped
    w_replay = _wmap(process_dsir_batch(spark, b1, store, 0))
    assert {
        r["b"]: (r["cr"], r["ct"]) for r in read_dsir_counts(spark, store).collect()
    } == before
    assert w_replay and set(w_replay) == {r["doc_id"] for r in b1.select("doc_id").collect()} & set(
        _wmap(dsir_micro(d))
    )

    # compaction of a never-ingested store is a no-op, not a crash
    assert compact_dsir_counts(spark, str(tmp_path / "no_store")) == 0

    # fresh ingest after compaction, then compact again
    process_dsir_batch(spark, b3, store, 2).collect()
    assert _wmap(rescore_dsir(spark, d, store)) == _wmap(dsir_micro(d))
    assert compact_dsir_counts(spark, store) == 1
    assert folded_bids(spark, os.path.join(store, "counts")) == {0, 1, 2}
    assert _wmap(rescore_dsir(spark, d, store)) == _wmap(dsir_micro(d))


def test_rescore_and_select_matches_batch_threshold_cut(spark, tmp_path):
    """r11: the continuous-selection composition — after two batches,
    rescore_and_select over the full doc set must equal
    dsir_select_threshold over the batch pipeline's weights (same
    percentile arithmetic on the same refreshed weights), and its
    selected set obeys the threshold contract vs the exact rank cut
    (strictly-above boundary in, strictly-below out)."""
    from flink_parameter_server_spark.operators.mlprep import (
        DSIR_KEEP_DIV,
        dsir_select_threshold,
    )
    from flink_parameter_server_spark.scratch import scoped_checkpoint
    from flink_parameter_server_spark.streaming.incremental_dsir import (
        rescore_and_select,
    )

    store = str(tmp_path / "store")
    d = _docs(spark)
    process_dsir_batch(spark, d.where(F.col("doc_id") % 2 == 0), store, 0).collect()
    process_dsir_batch(spark, d.where(F.col("doc_id") % 2 == 1), store, 1).collect()
    got = {(r["doc_id"], r["sel"]) for r in rescore_and_select(spark, d, store).collect()}
    want = {
        (r["doc_id"], r["sel"])
        for r in dsir_select_threshold(scoped_checkpoint(dsir_micro(d))).collect()
    }
    assert got == want and got
    w = {r["doc_id"]: r["smic"] for r in dsir_micro(d).collect()}
    k = len(w) // DSIR_KEEP_DIV
    order = sorted(w, key=lambda x: (-w[x], x))
    boundary = w[order[k - 1]]
    sel = {doc for doc, s in got if s == "selected"}
    assert {x for x in w if w[x] > boundary} <= sel
    assert not ({x for x in w if w[x] < boundary} & sel)


def test_streaming_wireup(spark, tmp_path):
    """Two micro-batches through dsir_stream_writer: every doc gets
    exactly one stamp row, and the final store rescore equals the
    batch pipeline over everything ingested."""
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    weights = str(tmp_path / "weights")
    d = _docs(spark)
    d.where(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(f"{src}/f1")
    d.where(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(f"{src}/f2")
    stream = (
        spark.readStream.schema("doc_id long, lang string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = dsir_stream_writer(spark, stream, store, weights)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stamped = spark.read.option("recursiveFileLookup", "true").schema(
        "doc_id long, smic long, ntok long, batch_id long"
    ).parquet(weights)
    n_docs = d.count()
    assert stamped.count() == n_docs
    assert stamped.select("doc_id").distinct().count() == n_docs
    assert os.path.isdir(os.path.join(store, "counts"))
    assert _wmap(rescore_dsir(spark, d, store)) == _wmap(dsir_micro(d))


def test_streaming_writer_refuses_flat_weights_dir(spark, tmp_path):
    """A weights dir holding flat parquet next to bid=<n> dirs reads
    back short (partition discovery drops the flat rows), so the writer
    must refuse it before any query starts — like the three decision
    writers do."""
    src = str(tmp_path / "src")
    weights = str(tmp_path / "weights")
    _docs(spark).limit(2).coalesce(1).write.parquet(f"{src}/f1")
    spark.createDataFrame([(1, 5, 3, 0)], "doc_id long, smic long, ntok long, batch_id long").coalesce(
        1
    ).write.mode("append").parquet(weights)
    spark.createDataFrame([(2, 6, 4, 0)], "doc_id long, smic long, ntok long, batch_id long").coalesce(
        1
    ).write.parquet(f"{weights}/bid=0")
    assert spark.read.parquet(weights).count() == 1, "the silent loss the guard prevents"
    stream = spark.readStream.schema("doc_id long, lang string, text string").parquet(f"{src}/*")
    active = {q.id for q in spark.streams.active}
    with pytest.raises(ValueError, match="flat"):
        dsir_stream_writer(spark, stream, str(tmp_path / "store"), weights)
    assert {q.id for q in spark.streams.active} == active
    assert not os.path.exists(tmp_path / "store")
