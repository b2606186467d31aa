"""Incremental near-dup dedup (streaming/incremental_dedup.py).

Pins: (1) single-batch incremental == batch dedup_cluster_canonical
EXACTLY on the driver fixture (same pair set, same CC canonical rule);
(2) cross-batch store semantics — a later duplicate of an ACCEPTED doc
is rejected with the right provenance, a later duplicate of a REJECTED
doc is accepted (greedy keep-first, the documented divergence from
whole-corpus CC); (3) the foreachBatch streaming wire-up produces the
same decisions per micro-batch."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from flink_parameter_server_spark.operators._util import t
from flink_parameter_server_spark.plans import REGISTRY
from flink_parameter_server_spark.streaming.incremental_dedup import (
    dedup_stream_writer,
    process_batch,
)
from tests.conftest import SF_SMALL


def test_single_batch_matches_batch_cluster_canonical(spark, tmp_path):
    store = str(tmp_path / "store")
    docs = t(spark, SF_SMALL, "documents").select("doc_id", "text")
    # consume the checkpoint-backed decisions BEFORE the registry entry
    # below runs scratch.release() on entry (the documented contract:
    # process_batch's checkpoints are tracked for release since r9)
    dec = process_batch(spark, docs, store).collect()
    accepted = {r["doc_id"] for r in dec if r["decision"] in ("accepted", "no_shingles")}
    batch = REGISTRY["dedup_cluster_canonical"].fn(spark, SF_SMALL).where(
        "space = 'text'"  # the r9 semantic space has its own keep rule
    )
    canonical = {r["doc_id"] for r in batch.where("is_canonical = 1").collect()}
    assert accepted == canonical
    # provenance: every in-batch reject points at its cluster canonical
    rej = {r["doc_id"]: r["dup_of"] for r in dec if r["decision"] == "dup_in_batch"}
    roots = {r["doc_id"]: r["cluster"] for r in batch.collect()}
    assert rej and all(roots[d] == p for d, p in rej.items()), rej


def _mkdocs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cross_batch_store_semantics(spark, tmp_path):
    store = str(tmp_path / "store")
    body = " ".join(f"tok{i} word{i % 7} filler{i % 11}" for i in range(30))
    other = " ".join(f"zz{i} yy{i * 3} xx{i % 5}" for i in range(30))

    # batch 1: A=1 and its clone 2 (one in-batch cluster), unrelated 3
    d1 = process_batch(
        spark,
        _mkdocs(spark, [(1, body), (2, body + " tail"), (3, other)]),
        store,
    )
    got1 = {r["doc_id"]: (r["decision"], r["dup_of"]) for r in d1.collect()}
    assert got1[1] == ("accepted", None)
    assert got1[2] == ("dup_in_batch", 1)
    assert got1[3] == ("accepted", None)

    # batch 2: 10 clones ACCEPTED doc 1 -> dup_of_store(1);
    # 11 clones REJECTED doc 2's tail variant but not doc 1 closely
    # enough -> greedy keep-first accepts it only if it misses doc 1;
    # 12 is fresh
    d2 = process_batch(
        spark,
        _mkdocs(
            spark,
            [(10, body), (11, " ".join(f"q{i}w{i}" for i in range(30))), (12, other + " more")],
        ),
        store,
    )
    got2 = {r["doc_id"]: (r["decision"], r["dup_of"]) for r in d2.collect()}
    assert got2[10] == ("dup_of_store", 1)
    assert got2[11] == ("accepted", None)
    assert got2[12] == ("dup_of_store", 3)  # near-dup of accepted 3

    # the store holds exactly the accepted docs' signatures
    import os

    sh = spark.read.parquet(os.path.join(store, "shingles"))
    assert {r["doc_id"] for r in sh.select("doc_id").collect()} == {1, 3, 11}


def test_streaming_foreachbatch_wireup(spark, tmp_path):
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    decisions = str(tmp_path / "decisions")
    body = " ".join(f"tok{i} word{i % 7} filler{i % 11}" for i in range(30))

    # two files -> two micro-batches (maxFilesPerTrigger=1)
    _mkdocs(spark, [(1, body)]).coalesce(1).write.parquet(f"{src}/f1")
    _mkdocs(spark, [(2, body + " tail")]).coalesce(1).write.parquet(f"{src}/f2")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = dedup_stream_writer(spark, stream, store, decisions)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    dec = {r["doc_id"]: r["decision"] for r in spark.read.parquet(decisions).collect()}
    # file order is lexicographic (f1 then f2): 1 accepted, 2 rejected
    # against the store — i.e. the store carried state ACROSS micro-batches
    assert dec == {1: "accepted", 2: "dup_of_store"}
    n_batches = spark.read.parquet(decisions).select("batch_id").distinct().count()
    assert n_batches == 2


def test_stream_sinks_leave_no_persistent_rdds(spark, tmp_path):
    """Each micro-batch of a decision sink runs in its own scratch
    scope: after two batches through dedup_stream_writer (one with an
    in-batch duplicate pair, so the CC survivor is pinned too) and two
    through dsir_stream_writer, the persisted RDD set is back at its
    baseline without any scratch.release() call."""
    from flink_parameter_server_spark.scratch import persistent_rdd_ids
    from flink_parameter_server_spark.streaming.incremental_dsir import dsir_stream_writer

    body = " ".join(f"tok{i} word{i % 7} filler{i % 11}" for i in range(30))
    rows = [
        [(1, "en", body), (2, "en", body + " tail")],
        [(3, "en", body), (4, "de", " ".join(f"q{i}w{i}" for i in range(30)))],
    ]
    src = str(tmp_path / "src")
    for i, r in enumerate(rows):
        spark.createDataFrame(r, "doc_id long, lang string, text string").coalesce(
            1
        ).write.parquet(f"{src}/f{i}")

    def stream(schema):
        return (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{src}/*")
        )

    base = persistent_rdd_ids(spark)
    for name, writer, schema, out in (
        ("dedup", dedup_stream_writer, "doc_id long, text string", "ddec"),
        ("dsir", dsir_stream_writer, "doc_id long, lang string, text string", "weights"),
    ):
        q = writer(spark, stream(schema), str(tmp_path / f"{name}_store"), str(tmp_path / out))
        try:
            q.processAllAvailable()
            assert persistent_rdd_ids(spark) - base == set(), name
        finally:
            q.stop()
    dec = spark.read.parquet(str(tmp_path / "ddec"))
    assert {r["doc_id"]: r["decision"] for r in dec.collect()} == {
        1: "accepted", 2: "dup_in_batch", 3: "dup_of_store", 4: "accepted",
    }
    for out in (dec, spark.read.parquet(str(tmp_path / "weights"))):
        assert out.select("batch_id").distinct().count() == 2


def test_replay_idempotency(spark, tmp_path):
    """foreachBatch is at-least-once: re-running the SAME batch against
    the store (the replay shape) must not self-reject accepted docs,
    must not duplicate store signature rows, and the per-batch
    decision overwrite must keep exactly one row per doc (ADVICE r7)."""
    import os

    store = str(tmp_path / "store")
    body = " ".join(f"tok{i} word{i % 7} filler{i % 11}" for i in range(30))
    batch = _mkdocs(spark, [(1, body), (2, body + " tail"), (3, "short")])

    d1 = {r["doc_id"]: (r["decision"], r["dup_of"]) for r in process_batch(spark, batch, store).collect()}
    sh_rows = spark.read.parquet(os.path.join(store, "shingles")).count()
    band_rows = spark.read.parquet(os.path.join(store, "bands")).count()

    # replay: the store already holds this batch's accepted docs
    d2 = {r["doc_id"]: (r["decision"], r["dup_of"]) for r in process_batch(spark, batch, store).collect()}
    assert d2[1] == ("accepted", None), d2  # NOT dup_of_store of itself
    assert d2[3] == ("no_shingles", None)
    # 2 stays rejected with the same provenance (decision label may move
    # from dup_in_batch to dup_of_store — its canonical is stored now)
    assert d2[2][1] == 1 and d2[2][0] in ("dup_in_batch", "dup_of_store")
    assert d1[2][1] == 1
    # no duplicate signature rows appended by the replay
    assert spark.read.parquet(os.path.join(store, "shingles")).count() == sh_rows
    assert spark.read.parquet(os.path.join(store, "bands")).count() == band_rows


def test_streaming_decisions_overwrite_per_batch(spark, tmp_path):
    """The sink writes each batch's decisions under bid=<batch_id> with
    overwrite — simulate a replay by calling the inner write path twice
    and assert one decision row per doc survives."""
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    decisions = str(tmp_path / "decisions")
    body = " ".join(f"tok{i} word{i % 7} filler{i % 11}" for i in range(30))
    _mkdocs(spark, [(1, body), (2, body + " tail")]).coalesce(1).write.parquet(f"{src}/f1")

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = dedup_stream_writer(spark, stream, store, decisions)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # manual replay of batch 0 (same docs, same bid)
    replay = _mkdocs(spark, [(1, body), (2, body + " tail")])
    process_batch(spark, replay, store).withColumn("batch_id", F.lit(0)).write.mode(
        "overwrite"
    ).parquet(f"{decisions}/bid=0")

    rows = spark.read.parquet(decisions).collect()
    assert len(rows) == 2  # one row per doc, not four
    dec = {r["doc_id"]: r["decision"] for r in rows}
    assert dec[1] == "accepted" and dec[2] in ("dup_in_batch", "dup_of_store")


def test_decontamination_and_compaction(spark, tmp_path):
    import os

    from flink_parameter_server_spark.streaming.incremental_dedup import (
        build_signature_store,
        compact_store,
        contamination_check,
    )

    store = str(tmp_path / "eval_store")
    eval_body = " ".join(f"ev{i} benchmark{i % 5} item{i % 9}" for i in range(30))
    # seed the store from the "eval set" (two appends -> small files)
    build_signature_store(spark, _mkdocs(spark, [(900, eval_body)]), store)
    build_signature_store(
        spark, _mkdocs(spark, [(901, " ".join(f"other{i}" for i in range(30)))]), store
    )

    # training corpus: 1 contaminated (near-clone of eval 900), 2 clean
    corpus = _mkdocs(
        spark,
        [
            (1, eval_body + " suffix"),
            (2, " ".join(f"clean{i}x{i * 7}" for i in range(30))),
            (3, "short"),
        ],
    )
    got = {
        r["doc_id"]: r["contaminated_by"]
        for r in contamination_check(spark, corpus, store).collect()
    }
    assert got == {1: 900}

    # read-only: the store is unchanged by the check
    n_before = spark.read.parquet(os.path.join(store, "shingles")).count()
    assert n_before == 2

    # compaction halves the file count and preserves content exactly
    bands_before = spark.read.parquet(os.path.join(store, "bands"))
    rows_before = {tuple(r) for r in bands_before.collect()}
    files_before = sum(
        len([f for f in fs if f.endswith(".parquet")])
        for _, _, fs in os.walk(os.path.join(store, "bands"))
    )
    compact_store(spark, store)
    bands_after = spark.read.parquet(os.path.join(store, "bands"))
    assert {tuple(r) for r in bands_after.collect()} == rows_before
    files_after = sum(
        len([f for f in fs if f.endswith(".parquet")])
        for _, _, fs in os.walk(os.path.join(store, "bands"))
    )
    assert files_after < files_before
    # and the check still works against the compacted store
    got2 = {
        r["doc_id"]: r["contaminated_by"]
        for r in contamination_check(spark, corpus, store).collect()
    }
    assert got2 == {1: 900}


@pytest.mark.slow
def test_curate_contamination_equals_store_probe(spark, tmp_path):
    """VERDICT r7 #5: the curated pipeline's 'rejected:contaminated'
    stage must equal contamination_check against a store built from
    the SAME eval subset — the inline (oracle-checked) form and the
    persisted-store (serving) form are one operator."""
    from flink_parameter_server_spark.operators._util import t as _t
    from flink_parameter_server_spark.operators.curate import (
        corpus_curate,
        is_eval_holdout,
    )
    from flink_parameter_server_spark.streaming.incremental_dedup import (
        build_signature_store,
        contamination_check,
    )

    d = _t(spark, SF_SMALL, "documents").select("doc_id", "text")
    eval_docs = d.where(is_eval_holdout())
    store = str(tmp_path / "eval_store")
    build_signature_store(spark, eval_docs, store)

    # the store probe flags contaminated docs among ALL training docs;
    # the curated stage only marks those that survived quality+exact —
    # compare on that same survivor scope by intersecting decisions
    dec = corpus_curate(spark, SF_SMALL)
    curated_contam = {
        r["doc_id"] for r in dec.where("split = 'rejected:contaminated'").collect()
    }
    assert curated_contam, "fixture must exercise the contaminated branch"

    probe = contamination_check(spark, d.where(~is_eval_holdout()), store)
    probe_hits = {r["doc_id"] for r in probe.collect()}
    # every curated-contaminated doc is a store-probe hit...
    assert curated_contam <= probe_hits
    # ...and the only probe hits NOT marked contaminated are docs the
    # pipeline rejected EARLIER (quality/exact precede decontamination)
    earlier = {
        r["doc_id"]
        for r in dec.where(
            "split IN ('rejected:quality', 'rejected:exact_dup')"
        ).collect()
    }
    assert probe_hits - curated_contam <= earlier
