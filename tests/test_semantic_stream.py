"""Incremental semantic dedup (r9, streaming/semantic_dedup.py): a
persisted IVF vector store probed per micro-batch. Pins (1) the
decision logic against a driver-side union-find reference over the
same centroid geometry, (2) cross-batch store semantics (greedy
keep-first), (3) replay idempotency under foreachBatch at-least-once,
(4) literal-cid partition pruning on the probe scan, (5) the
Structured Streaming wireup."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from flink_parameter_server_spark.functions.planes import SEMANTIC_T
from flink_parameter_server_spark.functions.vectors import as_double
from flink_parameter_server_spark.operators._util import t
from flink_parameter_server_spark.operators.ann_index import (
    _assign_for_index,
    _normed,
    _touched_cells,
    build_ivf_index,
    index_mode,
)
from flink_parameter_server_spark.operators.similarity import _fast_cosine, _nearest_centroids
from flink_parameter_server_spark.streaming.semantic_dedup import (
    process_semantic_batch,
    semantic_stream_writer,
)
from tests.conftest import SF_SMALL

SF = SF_SMALL.replace("0.001", "0.01")
N_CELLS = 8


def _halves(spark):
    emb = t(spark, SF, "embeddings").select("vec_id", "embedding")
    return emb.where(F.col("vec_id") % 2 == 0), emb.where(F.col("vec_id") % 2 == 1)


def _seed_index(spark, tmp_path, seed_df):
    idx = str(tmp_path / "ivf")
    build_ivf_index(spark, seed_df, idx, n_cells=N_CELLS, iters=1)
    return idx


def _scaled(df, factor: float, id_off: int):
    """Same directions, new ids: cosine to the original is exactly 1."""
    return df.select(
        (F.col("vec_id") + F.lit(id_off)).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(factor)).cast("float")).alias(
            "embedding"
        ),
    )


def test_single_batch_matches_driver_reference(spark, tmp_path):
    """Decision staging (store-probe first, then in-batch CC with
    min-id canonicals) recomputed independently driver-side from the
    same Spark-computed cosines."""
    seed, batch = _halves(spark)
    idx = _seed_index(spark, tmp_path, seed)

    cent = spark.read.parquet(f"{idx}/centroids")
    assigned = _nearest_centroids(_normed(batch, "embedding", "ne"), cent).localCheckpoint()
    cells = spark.read.parquet(f"{idx}/cells")
    cos = _fast_cosine(
        as_double(F.col("n.embedding")), as_double(F.col("s.embedding")),
        F.col("n.ne"), F.col("s.ne"),
    )
    store_cos = (
        assigned.alias("n")
        .join(cells.alias("s"), F.col("n.cid") == F.col("s.cid"))
        .select(
            F.col("n.vec_id").alias("vid"), F.col("s.vec_id").alias("sid"),
            cos.alias("c"),
        )
        .collect()
    )
    batch_cos = (
        assigned.alias("n")
        .join(assigned.alias("s"), F.col("n.cid") == F.col("s.cid"))
        .where(F.col("n.vec_id") < F.col("s.vec_id"))
        .select(
            F.col("n.vec_id").alias("vid"), F.col("s.vec_id").alias("sid"),
            cos.alias("c"),
        )
        .collect()
    )
    batch_ids = {r.vec_id for r in assigned.select("vec_id").collect()}

    # driver reference: stage 1 store probe
    best: dict[int, tuple[float, int]] = {}
    for r in store_cos:
        if r.c >= SEMANTIC_T:
            cur = best.get(r.vid)
            if cur is None or (-r.c, r.sid) < (-cur[0], cur[1]):
                best[r.vid] = (r.c, r.sid)
    store_dup = {v: sid for v, (_, sid) in best.items()}
    # stage 2: union-find among survivors
    surv = batch_ids - set(store_dup)
    parent = {v: v for v in surv}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in batch_cos:
        if r.c >= SEMANTIC_T and r.vid in surv and r.sid in surv:
            ra, rb = find(r.vid), find(r.sid)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for v in batch_ids:
        if v in store_dup:
            want[v] = ("dup_of_store", store_dup[v])
        elif find(v) != v:
            want[v] = ("dup_in_batch", find(v))
        else:
            want[v] = ("accepted", None)

    got = {
        r.vec_id: (r.decision, r.dup_of)
        for r in process_semantic_batch(spark, batch, idx).collect()
    }
    assert got == want
    # the store grew by exactly the accepted set (batch ids in cells ==
    # accepted; rejected/zero-norm vectors are never persisted)
    stored = {
        r.vec_id for r in spark.read.parquet(f"{idx}/cells").select("vec_id").collect()
    }
    assert stored & batch_ids == {v for v, (d, _) in want.items() if d == "accepted"}


def test_cross_batch_store_semantics_and_zero_norm(spark, tmp_path):
    """A later batch's vector that duplicates an ACCEPTED earlier
    vector is rejected against the store with that provenance; a
    zero vector passes through as 'zero_norm'."""
    seed, batch1 = _halves(spark)
    idx = _seed_index(spark, tmp_path, seed)
    d1 = {
        r.vec_id: r.decision
        for r in process_semantic_batch(spark, batch1, idx).collect()
    }
    acc = sorted(v for v, d in d1.items() if d == "accepted")
    assert acc

    probe_src = batch1.where(F.col("vec_id").isin(acc[:3]))
    dim = len(probe_src.first()["embedding"])
    batch2 = _scaled(probe_src, 1.05, 100_000).unionByName(
        spark.createDataFrame(
            [(999_999, [0.0] * dim)], "vec_id long, embedding array<double>"
        ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    )
    d2 = {
        r.vec_id: (r.decision, r.dup_of)
        for r in process_semantic_batch(spark, batch2, idx).collect()
    }
    for v in acc[:3]:
        assert d2[v + 100_000] == ("dup_of_store", v), d2
    assert d2[999_999] == ("zero_norm", None)


def test_replay_idempotency(spark, tmp_path):
    """Replaying the same batch must not self-reject accepted vectors,
    must keep rejection provenance, and must not grow the store."""
    seed, batch = _halves(spark)
    idx = _seed_index(spark, tmp_path, seed)
    d1 = {
        r.vec_id: (r.decision, r.dup_of)
        for r in process_semantic_batch(spark, batch, idx).collect()
    }
    n_cells_rows = spark.read.parquet(f"{idx}/cells").count()
    d2 = {
        r.vec_id: (r.decision, r.dup_of)
        for r in process_semantic_batch(spark, batch, idx).collect()
    }
    for v, (dec, dup) in d1.items():
        if dec == "accepted":
            assert d2[v] == ("accepted", None), (v, d2[v])
        elif dec == "dup_in_batch":
            # canonical is stored now; label may flip, provenance holds
            assert d2[v][1] == dup and d2[v][0] in ("dup_in_batch", "dup_of_store")
        else:
            assert d2[v] == (dec, dup)
    assert spark.read.parquet(f"{idx}/cells").count() == n_cells_rows


def test_direct_calls_leak_no_persistent_rdds(spark, tmp_path):
    """r9 review: process_semantic_batch called OUTSIDE the stream sink
    (as tests and batch drivers do) must not leave pinned RDD blocks
    behind — its checkpoints are tracked for scratch.release(); inside
    a scratch scope the scope owns them and frees exactly those on exit."""
    from flink_parameter_server_spark.scratch import (
        persistent_rdd_ids,
        pinned,
        release,
    )

    seed, batch = _halves(spark)
    idx = _seed_index(spark, tmp_path, seed)
    release()
    base = persistent_rdd_ids(spark)

    # default: tracked, freed by release()
    process_semantic_batch(spark, batch, idx).collect()
    release()
    assert persistent_rdd_ids(spark) - base == set()

    # scope: owned by the scope, freed on exit, nothing left tracked
    with pinned(spark) as ids:
        process_semantic_batch(spark, batch, idx).collect()
        assert ids and ids <= persistent_rdd_ids(spark)
    assert persistent_rdd_ids(spark) - base == set()
    assert release() == 0


def test_probe_scan_partition_pruned(spark, tmp_path):
    """A small batch touches few cells; the probe's cells scan must
    carry a literal cid INSET partition filter over only those."""
    import re

    seed, batch = _halves(spark)
    idx = _seed_index(spark, tmp_path, seed)
    small = batch.limit(3)
    assigned = _nearest_centroids(
        _normed(small, "embedding", "ne"), spark.read.parquet(f"{idx}/centroids")
    )
    probed = sorted(r["cid"] for r in assigned.select("cid").distinct().collect())
    assert len(probed) < N_CELLS
    cells = _touched_cells(spark, idx, probed)
    plan = cells._jdf.queryExecution().executedPlan().toString()
    # short literal lists render IN (...), longer ones INSET — both are
    # the pushed partition filter
    assert re.search(r"PartitionFilters: \[cid#\d+ IN", plan), plan[:2000]


def test_two_level_store_assigns_in_persisted_mode(spark, tmp_path):
    """A store seeded by a two-level build assigns every batch through
    its persisted hierarchy, as add_vectors does
    (test_ann_index.py::test_two_level_lifecycle_mode_dispatch): the
    landed (vec_id, cid) pairs equal the persisted-mode assignment, and
    a replayed batch leaves the store unchanged. On this corpus 48 of
    the 100 batch vectors have a flat-argmax cell other than their
    two-level cell, so a flat intake lands them elsewhere."""
    import numpy as np
    import pandas as pd

    x = np.random.RandomState(11).normal(size=(400, 64)).astype("float32")
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(400), "embedding": [r.tolist() for r in x]}),
        "vec_id long, embedding array<float>",
    )
    idx = str(tmp_path / "ivf2")
    build_ivf_index(
        spark, emb.where(F.col("vec_id") < 300), idx, n_cells=16, iters=2, two_level=True
    )
    batch = emb.where(F.col("vec_id") >= 300)
    vn = _normed(batch, "embedding", "ne")
    mode = index_mode(spark, idx)
    assert mode.two_level
    want = {(r["vec_id"], r["cid"]) for r in _assign_for_index(spark, idx, vn, mode).collect()}
    flat = {
        (r["vec_id"], r["cid"])
        for r in _nearest_centroids(vn, spark.read.parquet(f"{idx}/centroids")).collect()
    }
    assert want - flat, "the corpus must tell the two assignment modes apart"

    decisions = process_semantic_batch(spark, batch, idx).collect()
    accepted = {r.vec_id for r in decisions if r.decision == "accepted"}
    assert accepted

    def landed():
        return {
            (r["vec_id"], r["cid"])
            for r in spark.read.parquet(f"{idx}/cells")
            .where(F.col("vec_id") >= 300)
            .select("vec_id", "cid")
            .collect()
        }

    got = landed()
    assert got == {(v, c) for v, c in want if v in accepted}
    n_rows = spark.read.parquet(f"{idx}/cells").count()
    process_semantic_batch(spark, batch, idx).collect()
    assert spark.read.parquet(f"{idx}/cells").count() == n_rows
    assert landed() == got


def test_streaming_wireup_two_batches(spark, tmp_path):
    """Two files -> two micro-batches; the second holds a scaled copy
    of a vector the first batch accepted -> rejected against the store
    (state carried ACROSS micro-batches); decisions land under bid=."""
    seed, batch = _halves(spark)
    idx = _seed_index(spark, tmp_path, seed)
    src = str(tmp_path / "src")
    decisions = str(tmp_path / "decisions")

    b1 = batch.limit(5).localCheckpoint()
    first_id = b1.agg(F.min("vec_id")).first()[0]
    b1.coalesce(1).write.parquet(f"{src}/f1")
    _scaled(b1.where(F.col("vec_id") == first_id), 1.1, 500_000).coalesce(1).write.parquet(
        f"{src}/f2"
    )

    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = semantic_stream_writer(spark, stream, idx, decisions)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    dec = {
        r.vec_id: (r.decision, r.dup_of)
        for r in spark.read.parquet(decisions).collect()
    }
    assert dec[500_000 + first_id] == ("dup_of_store", first_id), dec
    assert spark.read.parquet(decisions).select("batch_id").distinct().count() == 2


def test_two_streams_share_one_session_without_cross_freeing(spark, tmp_path):
    """r9 review: a dedup stream and a semantic stream on ONE
    SparkSession (the serving deployment both module docstrings pitch)
    interleave foreachBatch sinks on separate driver threads — the old
    global before/after diff-unpersist in one sink could free the
    OTHER sink's in-flight localCheckpoint blocks (non-recomputable →
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). With exact scoped attribution
    both streams must drain all batches with no exception and correct
    cross-batch store semantics."""
    from flink_parameter_server_spark.streaming.incremental_dedup import (
        dedup_stream_writer,
    )

    # --- semantic leg: 3 files -> 3 micro-batches
    seed, batch = _halves(spark)
    idx = _seed_index(spark, tmp_path, seed)
    esrc = str(tmp_path / "esrc")
    b1 = batch.limit(6).localCheckpoint()
    first_id = b1.agg(F.min("vec_id")).first()[0]
    b1.coalesce(1).write.parquet(f"{esrc}/f1")
    _scaled(b1.where(F.col("vec_id") == first_id), 1.1, 500_000).coalesce(1).write.parquet(f"{esrc}/f2")
    _scaled(b1.where(F.col("vec_id") == first_id), 0.9, 600_000).coalesce(1).write.parquet(f"{esrc}/f3")

    # --- dedup leg: 3 files -> 3 micro-batches
    body = " ".join(f"tok{i} word{i % 7} filler{i % 11}" for i in range(40))
    other = " ".join(f"zz{i} yy{i * 3} xx{i % 5}" for i in range(40))
    dsrc = str(tmp_path / "dsrc")
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    mk([(1, body), (2, other)]).coalesce(1).write.parquet(f"{dsrc}/f1")
    mk([(10, body)]).coalesce(1).write.parquet(f"{dsrc}/f2")
    mk([(11, other + " more"), (12, " ".join(f"q{i}w{i}" for i in range(40)))]).coalesce(
        1
    ).write.parquet(f"{dsrc}/f3")

    estream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{esrc}/*")
    )
    dstream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{dsrc}/*")
    )
    sdec = str(tmp_path / "sdec")
    ddec = str(tmp_path / "ddec")
    qs = semantic_stream_writer(spark, estream, idx, sdec)
    qd = dedup_stream_writer(spark, dstream, str(tmp_path / "dstore"), ddec)
    try:
        # both run concurrently on their own streaming threads; drain both
        qs.processAllAvailable()
        qd.processAllAvailable()
        assert qs.exception() is None and qd.exception() is None
    finally:
        qs.stop()
        qd.stop()

    sd = {r.vec_id: (r.decision, r.dup_of) for r in spark.read.parquet(sdec).collect()}
    assert sd[500_000 + first_id] == ("dup_of_store", first_id)
    assert sd[600_000 + first_id] == ("dup_of_store", first_id)
    dd = {r.doc_id: (r.decision, r.dup_of) for r in spark.read.parquet(ddec).collect()}
    assert dd[1] == ("accepted", None) and dd[2] == ("accepted", None)
    assert dd[10] == ("dup_of_store", 1)
    assert dd[11] == ("dup_of_store", 2) and dd[12] == ("accepted", None)


def test_duplicate_heavy_batch_flags_cell_profile(spark, tmp_path, caplog):
    """r12 (VERDICT r11 #6): the continuous path surfaces
    semantic_cell_profile's max_share pathology flag per batch —
    log-only, decisions unchanged. A 90%-duplicate synthetic batch
    (identical vectors collapse into one max-cosine cell) trips the
    warning; a spread batch does not."""
    import logging

    seed, batch = _halves(spark)
    idx = _seed_index(spark, tmp_path, seed)

    # 90%-duplicate synthetic: 18 copies of one direction + 2 others,
    # ids disjoint from the catalog
    dup = [(10_000 + i, [1.0, 0.0, 0.0, 0.0] + [0.0] * 60) for i in range(18)]
    rest = [
        (10_100, [0.0, 1.0, 0.0, 0.0] + [0.0] * 60),
        (10_101, [0.0, 0.0, 1.0, 0.0] + [0.0] * 60),
    ]
    heavy = spark.createDataFrame(dup + rest, "vec_id bigint, embedding array<float>")
    with caplog.at_level(logging.WARNING, "flink_parameter_server_spark.streaming.semantic_dedup"):
        dec = {r["vec_id"]: r["decision"] for r in process_semantic_batch(spark, heavy, idx).collect()}
    assert any("max_share" in rec.message for rec in caplog.records), "flag did not fire"
    # log-only: the duplicate pile still dedups to one accepted canonical
    dups = [v for v in dec.values() if v in ("dup_in_batch", "dup_of_store")]
    assert len(dups) >= 17 and len(dec) == 20

    caplog.clear()
    idx2 = _seed_index(spark, tmp_path / "idx2", seed)
    with caplog.at_level(logging.WARNING, "flink_parameter_server_spark.streaming.semantic_dedup"):
        process_semantic_batch(spark, batch, idx2).count()
    assert not any("max_share" in rec.message for rec in caplog.records), (
        "flag fired on the spread fixture batch"
    )
