"""Persistent IVF index (operators/ann_index.py): build/load/search
split. Pins (1) graceful degradation to EXACT brute force at full
probe, (2) useful recall at n_probe=2, (3) static partition pruning on
the probed cells — the property that makes the index an index."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from flink_parameter_server_spark.functions.vectors import as_double, norm2
from flink_parameter_server_spark.operators._util import t
from flink_parameter_server_spark.operators.ann_index import (
    DENSITY_FLOOR,
    add_vectors,
    build_ivf_index,
    index_mode,
    index_stats,
    ivf_search,
)
from flink_parameter_server_spark.operators.similarity import _fast_cosine
from tests.conftest import SF_SMALL

SF = SF_SMALL.replace("0.001", "0.01")
K = 10
N_CELLS = 16


def _queries(spark):
    return (
        t(spark, SF, "embeddings")
        .where(F.col("vec_id") % 50 == 0)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    )


def _brute_topk(spark, k):
    e = t(spark, SF, "embeddings").where(norm2(as_double(F.col("embedding"))) > 0)
    e = e.withColumn("ne", F.sqrt(norm2(as_double(F.col("embedding")))))
    q = e.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), F.col("ne").alias("nq")
    )
    scored = (
        q.crossJoin(e.select(F.col("vec_id").alias("neighbor_id"), "embedding", "ne"))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _fast_cosine(as_double(F.col("qv")), as_double(F.col("embedding")), F.col("nq"), F.col("ne")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


@pytest.mark.slow
def test_ivf_index_roundtrip_full_probe_is_exact(spark, tmp_path):
    idx = str(tmp_path / "ivf")
    build_ivf_index(spark, t(spark, SF, "embeddings"), idx, n_cells=N_CELLS, iters=2)
    got = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rk"])
        for r in ivf_search(spark, idx, _queries(spark), k=K, n_probe=N_CELLS).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rk"])
        for r in _brute_topk(spark, K).collect()
    }
    assert got == want and got


@pytest.mark.slow
def test_ivf_index_partial_probe_recall_and_pruning(spark, tmp_path):
    idx = str(tmp_path / "ivf")
    build_ivf_index(spark, t(spark, SF, "embeddings"), idx, n_cells=N_CELLS, iters=2)
    res = ivf_search(spark, idx, _queries(spark), k=K, n_probe=2)

    # pruning: the cells scan must carry a literal cid partition filter
    # (the probed set is bounded by n_cells, pushed with isin) — this is
    # what makes the probe read n_probe cells instead of the catalog
    import re

    plan = res._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[cid#\d+ INSET", plan), plan[:4000]

    # recall@K vs brute force: the fixture's embeddings are near-uniform
    # (IVF's WORST case — cosine neighbors of random vectors spread
    # across cells), so the measured recall is 0.50 at n_probe=2 / 0.58
    # at 4 of 16 cells; assert with margin below the measured value.
    # On clustered real catalogs the same quantizer concentrates recall
    # — the fixture number is a floor, not the operating point.
    got = {(r["query_id"], r["neighbor_id"]) for r in res.collect()}
    want = {(r["query_id"], r["neighbor_id"]) for r in _brute_topk(spark, K).collect()}
    recall = len(got & want) / len(want)
    assert recall >= 0.4, recall


@pytest.mark.slow
def test_ivf_search_two_level_probe(spark, tmp_path):
    """r11: the query-side centroid-of-centroids prune. Pins (1)
    covering every super cell (n_super_probe >= n_super = ceil(sqrt(
    n_cells)) = 4) recovers the FLAT probe exactly at the same
    n_probe; (2) at n_super_probe=1 the probe still returns well-formed
    top-k rows whose recall vs brute force is a bounded-below subset of
    the flat probe's (the documented prune approximation)."""
    idx = str(tmp_path / "ivf")
    build_ivf_index(spark, t(spark, SF, "embeddings"), idx, n_cells=N_CELLS, iters=2)
    flat = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rk"])
        for r in ivf_search(spark, idx, _queries(spark), k=K, n_probe=2).collect()
    }
    covered = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rk"])
        for r in ivf_search(
            spark, idx, _queries(spark), k=K, n_probe=2,
            two_level=True, n_super_probe=N_CELLS,
        ).collect()
    }
    assert covered == flat and covered

    pruned = ivf_search(
        spark, idx, _queries(spark), k=K, n_probe=2, two_level=True
    ).collect()
    assert pruned
    per_q: dict = {}
    for r in pruned:
        per_q.setdefault(r["query_id"], []).append(r["rk"])
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    want = {(r["query_id"], r["neighbor_id"]) for r in _brute_topk(spark, K).collect()}
    got = {(r["query_id"], r["neighbor_id"]) for r in pruned}
    assert len(got & want) / len(want) >= 0.2  # floor on worst-case fixture


@pytest.mark.slow
def test_add_vectors_incremental_append_and_reprobe(spark, tmp_path):
    """VERDICT r7 #8: the maintenance path. Build on half the catalog,
    add_vectors the other half (no Lloyd re-run), and a full-probe
    search over the grown index must equal exact brute force over the
    WHOLE catalog — i.e. appended vectors are first-class neighbors.
    Also pins idempotent re-ingest and the index_stats trigger stats."""
    idx = str(tmp_path / "ivf_inc")
    emb = t(spark, SF, "embeddings")
    first = emb.where(F.col("vec_id") % 2 == 0)
    rest = emb.where(F.col("vec_id") % 2 == 1)
    build_ivf_index(spark, first, idx, n_cells=N_CELLS, iters=2)
    n_before = spark.read.parquet(f"{idx}/cells").count()
    cent_before = {tuple(r) for r in spark.read.parquet(f"{idx}/centroids").select("cid").collect()}

    add_vectors(spark, idx, rest)
    # centroids untouched; cells grew by exactly the new non-zero vectors
    assert {tuple(r) for r in spark.read.parquet(f"{idx}/centroids").select("cid").collect()} == cent_before
    n_after = spark.read.parquet(f"{idx}/cells").count()
    assert n_after > n_before

    # idempotent re-ingest: adding the same vectors again is a no-op
    add_vectors(spark, idx, rest)
    assert spark.read.parquet(f"{idx}/cells").count() == n_after

    # full-probe search over the grown index == brute force on everything
    got = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rk"])
        for r in ivf_search(spark, idx, _queries(spark), k=K, n_probe=N_CELLS).collect()
    }
    want = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rk"])
        for r in _brute_topk(spark, K).collect()
    }
    assert got == want and got

    # the rebuild trigger reports sane balance stats
    stats = index_stats(spark, idx)
    assert stats["total"] == n_after and stats["n_cells"] <= N_CELLS
    assert stats["skew"] >= 1.0


def test_ivf_search_exclude_self_option(spark, tmp_path):
    """ADVICE r7: self-exclusion is an option, for query id spaces
    unrelated to the catalog's. With exclude_self=False a same-id
    catalog vector may appear in its own top-k (cos_sim 1.0 rank 1)."""
    idx = str(tmp_path / "ivf_self")
    build_ivf_index(spark, t(spark, SF, "embeddings"), idx, n_cells=N_CELLS, iters=2)
    res = ivf_search(
        spark, idx, _queries(spark), k=K, n_probe=N_CELLS, exclude_self=False
    )
    self_hits = res.where(
        (F.col("query_id") == F.col("neighbor_id")) & (F.col("rk") == 1)
    ).count()
    assert self_hits == _queries(spark).count()


def test_ivf_search_checkpoint_tracked_no_storage_growth(spark, tmp_path):
    """ADVICE r8: ivf_search's probe checkpoint (and the build's
    iteration checkpoints) must not accumulate persisted RDDs across a
    long-lived serving session. Probe twice, consume, release — the
    persisted-RDD set must return to its pre-test baseline."""
    from flink_parameter_server_spark.scratch import persistent_rdd_ids, release

    idx = str(tmp_path / "ivf_leak")
    release()  # drop any scratch a prior test left tracked
    base = persistent_rdd_ids(spark)
    build_ivf_index(spark, t(spark, SF, "embeddings"), idx, n_cells=N_CELLS, iters=2)
    # the build consumed and freed its own iteration checkpoints
    assert persistent_rdd_ids(spark) - base == set()
    for _ in range(2):
        assert ivf_search(spark, idx, _queries(spark), k=K, n_probe=2).count() > 0
    release()
    assert persistent_rdd_ids(spark) - base == set()


def test_add_vectors_within_batch_duplicate_ids(spark, tmp_path):
    """ADVICE r8: intra-batch duplicate vec_ids must collapse to ONE
    indexed row (deterministic keeper), not append once per occurrence
    — otherwise a probe returns the duplicated neighbor with unstable
    rk tie-breaks."""
    idx = str(tmp_path / "ivf_dupbatch")
    emb = t(spark, SF, "embeddings")
    build_ivf_index(spark, emb.where(F.col("vec_id") % 2 == 0), idx, n_cells=N_CELLS, iters=2)
    n_before = spark.read.parquet(f"{idx}/cells").count()

    # a batch holding every odd vector THREE times over
    rest = emb.where(F.col("vec_id") % 2 == 1).select("vec_id", "embedding")
    tripled = rest.unionAll(rest).unionAll(rest)
    add_vectors(spark, idx, tripled)

    cells = spark.read.parquet(f"{idx}/cells")
    n_new = rest.where(norm2(as_double(F.col("embedding"))) > 0).count()
    assert cells.count() == n_before + n_new
    assert cells.groupBy("vec_id").count().where("count > 1").count() == 0


def test_ivf_index_clustered_corpus_high_recall(spark, tmp_path):
    """The operating-point complement to the uniform-fixture floor: on
    a corpus with real cluster structure (8 well-separated centers,
    tight noise) the trained quantizer must put same-cluster vectors in
    the same cell, so even n_probe=1 recalls nearly everything."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    centers = rng.normal(size=(8, 64)) * 10.0
    rows = []
    for i in range(400):
        c = i % 8
        rows.append((i, (centers[c] + rng.normal(size=64) * 0.1).astype("float32")))
    pdf = pd.DataFrame({"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]})
    emb = spark.createDataFrame(pdf)

    idx = str(tmp_path / "ivf_clustered")
    build_ivf_index(spark, emb, idx, n_cells=8, iters=3)
    queries = emb.where(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_search(spark, idx, queries, k=K, n_probe=1).collect()
    }
    # ground truth: same-cluster membership — every true top-10 neighbor
    # of query q is in q's cluster (cluster radius << center separation)
    bad = [(q, n) for q, n in got if n % 8 != q % 8]
    assert not bad, bad[:5]
    # and the probe must actually return k neighbors for every query
    per_q = {}
    for q, n in got:
        per_q[q] = per_q.get(q, 0) + 1
    assert all(v == K for v in per_q.values()), per_q


@pytest.mark.slow
def test_compact_and_rebuild_preserve_catalog_and_results(spark, tmp_path):
    """r9 index maintenance: (1) compact_index collapses the per-batch
    small files add_vectors appends without changing any probe result;
    (2) rebuild_index retrains the quantizer over the stored catalog in
    place — same vec_ids, full probe still == exact brute force, and
    the returned skew stats reflect the new geometry."""
    import glob

    from flink_parameter_server_spark.operators.ann_index import (
        compact_index,
        rebuild_index,
    )

    idx = str(tmp_path / "ivf")
    emb = t(spark, SF, "embeddings").select("vec_id", "embedding")
    build_ivf_index(spark, emb.where(F.col("vec_id") % 4 == 0), idx, n_cells=N_CELLS, iters=1)
    # three incremental batches -> one file per touched cell per batch
    for m in (1, 2, 3):
        add_vectors(spark, idx, emb.where(F.col("vec_id") % 4 == m))

    before_files = len(glob.glob(f"{idx}/cells/cid=*/*.parquet"))
    want = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rk"])
        for r in ivf_search(spark, idx, _queries(spark), k=K, n_probe=N_CELLS).collect()
    }
    compact_index(spark, idx)
    after_files = len(glob.glob(f"{idx}/cells/cid=*/*.parquet"))
    assert after_files < before_files
    got = {
        (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rk"])
        for r in ivf_search(spark, idx, _queries(spark), k=K, n_probe=N_CELLS).collect()
    }
    assert got == want

    # rebuild over the stored catalog: catalog ids unchanged, full
    # probe == brute force, skew recomputed for the fresh geometry
    ids_before = {r["vec_id"] for r in spark.read.parquet(f"{idx}/cells").select("vec_id").collect()}
    stats = rebuild_index(spark, idx, n_cells=N_CELLS + 4, iters=2)
    assert stats["n_cells"] <= N_CELLS + 4 and stats["total"] == len(ids_before)
    ids_after = {r["vec_id"] for r in spark.read.parquet(f"{idx}/cells").select("vec_id").collect()}
    assert ids_after == ids_before
    brute = {
        (r["query_id"], r["neighbor_id"]) for r in _brute_topk(spark, K).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_search(spark, idx, _queries(spark), k=K, n_probe=N_CELLS + 4).collect()
    }
    assert full == brute


@pytest.mark.slow
def test_ivfpq_persisted_index_lifecycle(spark, tmp_path):
    """r12 persisted IVFADC: a pq=True build writes a constant-bounded
    codebook and a cid-partitioned 4-byte-codes replica; the ADC probe
    scans the codes table only and refines the shortlist from raw
    cells. Pins: (1) shortlist covering every candidate + full probe
    recovers the EXACT brute result (the refine re-ranks everything by
    true cosine — losslessness); (2) a small shortlist's per-query
    top-1 never beats the exact probe's (refine-can't-beat) and every
    emitted neighbor is real; (3) add_vectors keeps the codes replica
    in lockstep (grown-index full-recovery still exact); (4)
    compact_index rewrites both replicas with probe results identical."""
    import glob

    from flink_parameter_server_spark.operators.ann_index import (
        add_vectors,
        compact_index,
    )
    from flink_parameter_server_spark.operators.similarity import PQ_K, PQ_M

    idx = str(tmp_path / "ivfpq")
    emb = t(spark, SF, "embeddings")
    build_ivf_index(spark, emb, idx, n_cells=N_CELLS, iters=2, pq=True)

    cb = spark.read.parquet(f"{idx}/pq_codebook")
    assert 0 < cb.count() <= PQ_K * PQ_M
    n_cells_rows = spark.read.parquet(f"{idx}/cells").count()
    # r13: the replica persists PACKED — one BIGINT of 4-bit ranks per
    # vector; the array<long> form is the read_pq_codes unpacked view
    from flink_parameter_server_spark.operators.ann_index import read_pq_codes

    packed = spark.read.parquet(f"{idx}/pq_codes")
    assert packed.count() == n_cells_rows
    assert dict(packed.dtypes)["packed"] == "bigint"
    # every packed value fits in the 8 x 4-bit alphabet
    assert packed.where(
        (F.col("packed") < 0) | (F.col("packed") >= (1 << (4 * PQ_M)))
    ).count() == 0
    codes = read_pq_codes(spark, idx)
    assert codes.count() == n_cells_rows
    assert {r["n"] for r in codes.select(F.size("codes").alias("n")).distinct().collect()} == {PQ_M}
    # unpack is the exact inverse: codes match a fresh encode of cells
    from flink_parameter_server_spark.operators.similarity import pq_codes_arr

    fresh = pq_codes_arr(
        spark.read.parquet(f"{idx}/cells"), codebook=cb, keep=("cid",)
    ).select("vec_id", "codes")
    mism = (
        codes.select("vec_id", F.col("codes").alias("c1"))
        .join(fresh.select("vec_id", F.col("codes").alias("c2")), "vec_id")
        .where(F.col("c1") != F.col("c2"))
    )
    assert mism.count() == 0

    def rows(df):
        return {(r["query_id"], r["neighbor_id"], r["cos_sim"], r["rk"]) for r in df.collect()}

    want = rows(_brute_topk(spark, K))
    got_full = rows(
        ivf_search(
            spark, idx, _queries(spark), k=K, n_probe=N_CELLS,
            adc=True, shortlist=10**6,
        )
    )
    assert got_full == want and got_full

    exact1 = {
        r["query_id"]: r["cos_sim"]
        for r in ivf_search(spark, idx, _queries(spark), k=1, n_probe=2).collect()
    }
    adc1 = {
        r["query_id"]: r["cos_sim"]
        for r in ivf_search(
            spark, idx, _queries(spark), k=1, n_probe=2, adc=True, shortlist=8
        ).collect()
    }
    assert set(adc1) == set(exact1)
    for qid, cos in adc1.items():
        assert cos <= exact1[qid]

    # grow the catalog: remainder-1 ids re-keyed into a fresh id space
    newv = emb.where(F.col("vec_id") % 7 == 1).select(
        (F.col("vec_id") + 10**6).alias("vec_id"), "embedding"
    )
    add_vectors(spark, idx, newv)
    assert spark.read.parquet(f"{idx}/pq_codes").count() == spark.read.parquet(
        f"{idx}/cells"
    ).count()
    before = rows(
        ivf_search(spark, idx, _queries(spark), k=K, n_probe=N_CELLS, adc=True,
                   shortlist=10**6)
    )
    exact_grown = rows(ivf_search(spark, idx, _queries(spark), k=K, n_probe=N_CELLS))
    assert before == exact_grown and before

    files_before = len(glob.glob(f"{idx}/pq_codes/cid=*/*.parquet"))
    compact_index(spark, idx)
    files_after = len(glob.glob(f"{idx}/pq_codes/cid=*/*.parquet"))
    assert files_after <= files_before
    after = rows(
        ivf_search(spark, idx, _queries(spark), k=K, n_probe=N_CELLS, adc=True,
                   shortlist=10**6)
    )
    assert after == before

    # rebuild retrains BOTH quantizers (fresh coarse cells + fresh PQ
    # codebook over the grown catalog); same ids, full probe + full
    # shortlist still recovers the exact result
    from flink_parameter_server_spark.operators.ann_index import rebuild_index

    stats = rebuild_index(spark, idx, n_cells=N_CELLS, iters=2)
    assert stats["total"] == spark.read.parquet(f"{idx}/cells").count()
    assert spark.read.parquet(f"{idx}/pq_codes").count() == stats["total"]
    rebuilt = rows(
        ivf_search(spark, idx, _queries(spark), k=K, n_probe=N_CELLS, adc=True,
                   shortlist=10**6)
    )
    assert rebuilt == exact_grown

    # the ADC scan composes with the two-level QUERY probe: covering
    # supers + full probe + covering shortlist is still the exact result
    two = rows(
        ivf_search(
            spark, idx, _queries(spark), k=K, n_probe=N_CELLS,
            two_level=True, n_super_probe=10**6, adc=True, shortlist=10**6,
        )
    )
    assert two == exact_grown

    # replica drift heal (ADVICE r12): simulate the crash window between
    # add_vectors' cells append and codes append by dropping half the
    # codes rows; compact_index re-encodes the gap from cells against
    # the persisted codebook, and the healed probe is exact again
    import shutil

    kept_codes = (
        spark.read.parquet(f"{idx}/pq_codes")
        .where(F.col("vec_id") % 2 == 0)
        .select("vec_id", "packed", "cid")
        .collect()
    )
    shutil.rmtree(f"{idx}/pq_codes")
    spark.createDataFrame(
        kept_codes, "vec_id long, packed long, cid int"
    ).write.partitionBy("cid").parquet(f"{idx}/pq_codes")
    assert spark.read.parquet(f"{idx}/pq_codes").count() < stats["total"]
    compact_index(spark, idx)
    assert spark.read.parquet(f"{idx}/pq_codes").count() == stats["total"]
    healed = rows(
        ivf_search(spark, idx, _queries(spark), k=K, n_probe=N_CELLS, adc=True,
                   shortlist=10**6)
    )
    assert healed == exact_grown

    # adc=True on a pq-less build raises the contract error, and a
    # sub-k shortlist is clamped (never silently returns < k rows)
    import pytest as _pytest

    plain_idx = str(tmp_path / "plain")
    build_ivf_index(spark, emb, plain_idx, n_cells=N_CELLS, iters=1)
    with _pytest.raises(ValueError, match="pq=True"):
        ivf_search(spark, plain_idx, _queries(spark), k=K, adc=True)
    clamped = ivf_search(
        spark, idx, _queries(spark), k=K, n_probe=N_CELLS, adc=True, shortlist=1
    )
    n_q = _queries(spark).count()
    assert clamped.count() == n_q * K

    # ADVICE r13: duplicated codes rows (at-least-once replay) must not
    # consume SHORTLIST ranks either — with EVERY replica row duplicated
    # and the minimal (clamped-to-k) shortlist, each query still gets k
    # distinct candidates, and a covering shortlist is still exact
    dup_src = (
        spark.read.parquet(f"{idx}/pq_codes")
        .select("vec_id", "packed", "cid")
        .collect()
    )
    spark.createDataFrame(
        dup_src, "vec_id long, packed long, cid int"
    ).write.mode("append").partitionBy("cid").parquet(f"{idx}/pq_codes")
    dup_clamped = ivf_search(
        spark, idx, _queries(spark), k=K, n_probe=N_CELLS, adc=True, shortlist=1
    )
    assert dup_clamped.count() == n_q * K
    dup_full = rows(
        ivf_search(spark, idx, _queries(spark), k=K, n_probe=N_CELLS, adc=True,
                   shortlist=10**6)
    )
    assert dup_full == exact_grown


@pytest.mark.slow
def test_by_residual_ivfpq_lifecycle_and_clustered_recall(spark, tmp_path):
    """r14 by-residual IVFADC (Jegou et al. 2011 by_residual=true; the
    r13 documented divergence now an OPTION with a measured reason —
    BASELINE.md r14: on a clustered corpus plain-PQ codes carry mostly
    the cluster identity, so the ADC shortlist degenerates to ~0.03-0.17
    recall@10 while the exact probe sits at ~0.8). Pins:

    (a) covering shortlist + covering probe is EXACT in residual mode
        (the refine re-ranks everything by true cosine — mode-independent);
    (b) on the clustered corpus at the tight operating point
        (n_probe=1, shortlist=10) residual codes rank within-cell
        neighbors that plain codes cannot — recall@10 strictly higher
        and above 0.5;
    (c) the mode survives the lifecycle: add_vectors and the compact
        drift-heal encode RESIDUALS (read_pq_codes equals a fresh
        residual encode of the cells), and rebuild_index retrains in
        the persisted mode;
    (d) a pre-r14 index without the pq_mode marker reads as plain PQ."""
    import numpy as np
    import pandas as pd

    from flink_parameter_server_spark.operators.ann_index import (
        _encode_codes,
        compact_index,
        read_pq_codes,
        rebuild_index,
    )

    rng = np.random.RandomState(7)
    centers = rng.normal(size=(8, 64)) * 10.0
    rows = [
        (i, (centers[i % 8] + rng.normal(size=64) * 0.1).astype("float32").tolist())
        for i in range(400)
    ]
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rows], "embedding": [r[1] for r in rows]}),
        "vec_id long, embedding array<float>",
    )
    queries = emb.where(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )

    def sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    def recall(m, b):
        num = den = 0
        for qid, want in b.items():
            num += len(m.get(qid, set()) & want)
            den += min(K, len(want))
        return num / den if den else 0.0

    plain_idx = str(tmp_path / "pq_plain")
    res_idx = str(tmp_path / "pq_res")
    build_ivf_index(spark, emb, plain_idx, n_cells=8, iters=3, pq=True)
    build_ivf_index(spark, emb, res_idx, n_cells=8, iters=3, pq=True, by_residual=True)
    assert not index_mode(spark, plain_idx).by_residual  # (d): default + pre-r14 read
    assert index_mode(spark, res_idx).by_residual

    # (a) covering settings exact, both modes
    def rows_of(df):
        return {
            (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rk"])
            for r in df.collect()
        }

    exact = rows_of(ivf_search(spark, res_idx, queries, k=K, n_probe=8))
    for idx in (plain_idx, res_idx):
        got = rows_of(
            ivf_search(spark, idx, queries, k=K, n_probe=8, adc=True, shortlist=10**6)
        )
        assert got == exact and got

    # (b) tight operating points on the clustered corpus. Measured
    # ladder (this corpus, this seed): s10 plain 0.15 / residual 0.28,
    # s24 plain 0.36 / residual 0.53 — residual dominates at every
    # shortlist, bounded away from plain. The ABSOLUTE numbers are the
    # honest 4-bit ceiling: PQ_K=16 centers on an 8-dim near-gaussian
    # residual keep ~half the distortion even with Lloyd codewords, so
    # within-cell ranking at 32 bits/vector stays noisy; the refine
    # window is the second knob (BASELINE.md r14 sweep).
    brute = sets(ivf_search(spark, res_idx, queries, k=K, n_probe=8))
    rec = {}
    for s in (10, 24):
        for idx in (plain_idx, res_idx):
            rec[(idx, s)] = recall(
                sets(
                    ivf_search(
                        spark, idx, queries, k=K, n_probe=1, adc=True, shortlist=s
                    )
                ),
                brute,
            )
    assert rec[(res_idx, 10)] > rec[(plain_idx, 10)], rec
    assert rec[(res_idx, 10)] >= 0.25, rec
    assert rec[(res_idx, 24)] > rec[(plain_idx, 24)], rec
    assert rec[(res_idx, 24)] >= 0.5, rec

    # (c) lifecycle stays in residual mode: grown catalog's codes match
    # a fresh residual encode of the cells against the persisted state
    newv = emb.where(F.col("vec_id") % 5 == 1).select(
        (F.col("vec_id") + 10**6).alias("vec_id"), "embedding"
    )
    add_vectors(spark, res_idx, newv)
    cells = spark.read.parquet(f"{res_idx}/cells")
    cbq = spark.read.parquet(f"{res_idx}/pq_codebook")
    fresh = _encode_codes(spark, res_idx, cells, cbq, True).select(
        "vec_id", F.col("codes").alias("c2")
    )
    stored = read_pq_codes(spark, res_idx).select("vec_id", F.col("codes").alias("c1"))
    assert stored.count() == cells.count()
    assert stored.join(fresh, "vec_id").where(F.col("c1") != F.col("c2")).count() == 0

    # compact heal re-encodes the gap in residual mode
    import shutil

    kept = (
        spark.read.parquet(f"{res_idx}/pq_codes")
        .where(F.col("vec_id") % 2 == 0)
        .select("vec_id", "packed", "cid")
        .collect()
    )
    shutil.rmtree(f"{res_idx}/pq_codes")
    spark.createDataFrame(kept, "vec_id long, packed long, cid int").write.partitionBy(
        "cid"
    ).parquet(f"{res_idx}/pq_codes")
    compact_index(spark, res_idx)
    # compact rewrites the cells table too — re-derive the reference
    # encode from the POST-compact files (stale pre-compact frames
    # would read deleted part files)
    cells2 = spark.read.parquet(f"{res_idx}/cells")
    fresh2 = _encode_codes(spark, res_idx, cells2, cbq, True).select(
        "vec_id", F.col("codes").alias("c2")
    )
    healed = read_pq_codes(spark, res_idx).select("vec_id", F.col("codes").alias("c1"))
    assert healed.count() == cells2.count() == 480
    assert healed.join(fresh2, "vec_id").where(F.col("c1") != F.col("c2")).count() == 0

    # rebuild retrains in the persisted mode and stays exact at covering
    rebuild_index(spark, res_idx, n_cells=8, iters=2)
    assert index_mode(spark, res_idx).by_residual
    grown_exact = rows_of(ivf_search(spark, res_idx, queries, k=K, n_probe=8))
    got = rows_of(
        ivf_search(spark, res_idx, queries, k=K, n_probe=8, adc=True, shortlist=10**6)
    )
    assert got == grown_exact and got
    # residual ADC composes with the two-level query probe (the bases
    # join keys on the same (query_id, cid) the two-level probes carry)
    two = rows_of(
        ivf_search(
            spark, res_idx, queries, k=K, n_probe=8,
            two_level=True, n_super_probe=10**6, adc=True, shortlist=10**6,
        )
    )
    assert two == grown_exact


def test_ivf2_multiprobe_recall_at_10_monotone(spark):
    """VERDICT r12 #5 monotonicity pin: recall@10-vs-brute of the
    two-level lane rises with the probe count — ivf2_p2's recall@10 is
    >= ivf2's (p=1), and p=4's >= p=2's — on the fixture query set
    (the table receipt lives in BASELINE.md r13 "ANN recall@10
    receipt")."""
    from flink_parameter_server_spark.operators import similarity as sim
    from flink_parameter_server_spark.scratch import release

    K10 = 10

    def sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    def recall(m, b):
        num = den = 0
        for qid, want in b.items():
            num += len(m.get(qid, set()) & want)
            den += min(K10, len(want))
        return num / den if den else 0.0

    brute = sets(sim.embedding_cosine_topk(spark, SF, k=K10))
    recs = {}
    for p in (1, 2, 4):
        recs[p] = recall(
            sets(sim.embedding_ivf2_ann(spark, SF, probes=p, k=K10)), brute
        )
        release()
    assert recs[2] >= recs[1]
    assert recs[4] >= recs[2]
    assert 0 < recs[1] <= 1 and recs[4] <= 1


@pytest.mark.slow
def test_ivfpq_recall_at_10_monotone_in_shortlist(spark):
    """VERDICT r13 #4 pin: ivfpq's recall@10-vs-brute is non-decreasing
    in the refine-window shortlist (10 -> 32 -> 64). Growing the
    shortlist only ADDS candidates to the exact-cosine refine, and both
    the refine and brute rank by (cos desc, neighbor_id), so a true
    top-10 neighbor can only be displaced by another true top-10
    neighbor — recall cannot drop. The sweep receipt separating ADC
    ranking loss from window truncation lives in BASELINE.md r14 "ANN
    recall@10 — shortlist sweep"."""
    from flink_parameter_server_spark.operators import similarity as sim
    from flink_parameter_server_spark.scratch import release

    K10 = 10

    def sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    def recall(m, b):
        num = den = 0
        for qid, want in b.items():
            num += len(m.get(qid, set()) & want)
            den += min(K10, len(want))
        return num / den if den else 0.0

    brute = sets(sim.embedding_cosine_topk(spark, SF, k=K10))
    for lane in (sim.embedding_ivfpq_ann, sim.embedding_ivfpq_res_ann):
        recs = {}
        for s in (10, 32, 64):
            recs[s] = recall(sets(lane(spark, SF, k=K10, shortlist=s)), brute)
            release()
        assert recs[10] <= recs[32] <= recs[64], (lane.__name__, recs)
        assert 0 < recs[10] <= 1 and recs[64] <= 1
        # default shortlist (None) == the PQ_SHORTLIST=10 registered form
        default_rec = recall(sets(lane(spark, SF, k=K10)), brute)
        release()
        assert default_rec == recs[10]


@pytest.mark.slow
def test_pq8_width_contract_and_plain_lifecycle(spark, tmp_path):
    """r15 8-bit PQ codes (VERDICT r14 #2): pq_bits=8 trains a
    256-codeword-per-subspace codebook and byte-packs ranks into the
    full 64-bit long (subspace 7's rank can set the sign bit — the
    pack/unpack pair is pinned on adversarial codes below). Pins:

    (a) contract errors: by_residual or pq_bits without pq=True, and a
        width outside {4, 8}, raise instead of silently ignoring
        (ADVICE r14);
    (b) the persisted marker carries the width; r14-schema markers
        (by_residual only) and markerless indexes read as 4-bit;
    (c) expr-level pack/unpack inverse at 4 and 8 bits against a
        python packing reference: all 16 nibble ranks, [15]*8 packing
        to 2^32-1, and the sign-bit byte (all-255 codes pack to -1);
    (d) full lifecycle losslessness at 8 bits on the fixture: covering
        probe + covering shortlist == exact brute; read_pq_codes ==
        fresh encode; add_vectors keeps the byte-packed replica in
        lockstep; rebuild retrains at the persisted width;
    (e) a 4-bit reader of an 8-bit codebook fails LOUDLY: the rank
        table overflows the nibble alphabet and _pq_pack_maps raises
        (an r14 binary reading an r15 index can never silently corrupt
        packed codes)."""
    import pytest as _pytest

    from flink_parameter_server_spark.operators.ann_index import (
        _pq_pack_expr,
        _pq_pack_maps,
        _pq_unpack_expr,
        read_pq_codes,
        rebuild_index,
    )
    from flink_parameter_server_spark.operators.similarity import PQ_M, pq_codes_arr

    emb = t(spark, SF, "embeddings")

    # (a) contract errors
    with _pytest.raises(ValueError, match="by_residual"):
        build_ivf_index(spark, emb, str(tmp_path / "x1"), by_residual=True)
    with _pytest.raises(ValueError, match="pq_bits"):
        build_ivf_index(spark, emb, str(tmp_path / "x2"), pq_bits=8)
    with _pytest.raises(ValueError, match="pq_bits must be 4 or 8"):
        build_ivf_index(spark, emb, str(tmp_path / "x3"), pq=True, pq_bits=5)

    # (c) expr-level pack/unpack inverse at both widths, against the
    # python packing reference sum(r_m << bits*m) read as a signed long:
    # every 4-bit rank, [15]*8 at the top of the 32-bit range, and the
    # 8-bit sign-bit byte (all-255 codes pack to -1); identity rank maps
    # over each width's full alphabet
    def packed_ref(codes, bits):
        p = sum(r << bits * m for m, r in enumerate(codes))
        return p - (1 << 64) if p >= 1 << 63 else p

    cases = {
        4: [[15] * PQ_M, [0] * PQ_M, list(range(8)), list(range(8, 16)),
            [15, 0, 0, 0, 0, 0, 0, 15]],
        8: [[255] * PQ_M, [0] * PQ_M, [128, 0, 0, 0, 0, 0, 0, 255],
            [1, 127, 128, 129, 254, 255, 0, 200]],
    }
    packed = {}
    for bits, codes in cases.items():
        ident = ", ".join(
            f"{c * PQ_M + m}L, {c}L" for c in range(1 << bits) for m in range(PQ_M)
        )
        a2r = f"map({ident})"
        adv = spark.createDataFrame([(c,) for c in codes], "codes array<long>")
        rt = adv.selectExpr(
            "codes", f"{_pq_pack_expr(a2r, bits=bits)} AS packed"
        ).selectExpr("codes", "packed", f"{_pq_unpack_expr(a2r, bits=bits)} AS back")
        rows = rt.collect()
        assert all(r["codes"] == r["back"] for r in rows)
        assert all(r["packed"] == packed_ref(r["codes"], bits) for r in rows)
        packed.update({(bits, tuple(r["codes"])): r["packed"] for r in rows})
    assert packed[(4, (15,) * PQ_M)] == 2**32 - 1
    assert packed[(8, (255,) * PQ_M)] == -1

    # (d) lifecycle at 8 bits, plain mode
    idx = str(tmp_path / "pq8")
    build_ivf_index(spark, emb, idx, n_cells=N_CELLS, iters=2, pq=True, pq_bits=8)
    assert index_mode(spark, idx) == (True, False, 8, False)
    cb = spark.read.parquet(f"{idx}/pq_codebook")
    n_anchors = cb.select("aid").distinct().count()
    assert n_anchors > 16, "8-bit build must train past the nibble alphabet"

    def rows_of(df):
        return {
            (r["query_id"], r["neighbor_id"], r["cos_sim"], r["rk"])
            for r in df.collect()
        }

    want = rows_of(_brute_topk(spark, K))
    got = rows_of(
        ivf_search(spark, idx, _queries(spark), k=K, n_probe=N_CELLS,
                   adc=True, shortlist=10**6)
    )
    assert got == want and got

    stored = read_pq_codes(spark, idx).select("vec_id", F.col("codes").alias("c1"))
    fresh = pq_codes_arr(
        spark.read.parquet(f"{idx}/cells"), codebook=cb, keep=("cid",)
    ).select("vec_id", F.col("codes").alias("c2"))
    assert stored.join(fresh, "vec_id").where(F.col("c1") != F.col("c2")).count() == 0

    newv = emb.where(F.col("vec_id") % 9 == 1).select(
        (F.col("vec_id") + 10**6).alias("vec_id"), "embedding"
    )
    add_vectors(spark, idx, newv)
    assert spark.read.parquet(f"{idx}/pq_codes").count() == spark.read.parquet(
        f"{idx}/cells"
    ).count()
    grown_exact = rows_of(ivf_search(spark, idx, _queries(spark), k=K, n_probe=N_CELLS))
    grown_adc = rows_of(
        ivf_search(spark, idx, _queries(spark), k=K, n_probe=N_CELLS,
                   adc=True, shortlist=10**6)
    )
    assert grown_adc == grown_exact and grown_adc

    rebuild_index(spark, idx, n_cells=N_CELLS, iters=2)
    assert index_mode(spark, idx).bits == 8, "rebuild must keep the persisted width"
    rebuilt = rows_of(
        ivf_search(spark, idx, _queries(spark), k=K, n_probe=N_CELLS,
                   adc=True, shortlist=10**6)
    )
    assert rebuilt == rows_of(
        ivf_search(spark, idx, _queries(spark), k=K, n_probe=N_CELLS)
    )

    # (e) a 4-bit reader of the 8-bit codebook raises, never corrupts
    with _pytest.raises(ValueError, match="packing requires"):
        _pq_pack_maps(spark.read.parquet(f"{idx}/pq_codebook"), bits=4)

    # (b) marker back-compat over this index's own codebook: the r14
    # schema (by_residual only) reads 4-bit, and no marker at all
    # (r12/r13) reads plain 4-bit
    import shutil

    spark.createDataFrame([(True,)], "by_residual boolean").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{idx}/pq_mode")
    assert index_mode(spark, idx) == (True, True, 4, False)
    shutil.rmtree(f"{idx}/pq_mode")
    assert index_mode(spark, idx) == (True, False, 4, False)
    assert index_mode(spark, str(tmp_path / "nomarker")).bits == 4


def _clustered_emb(spark, n=400, n_centers=8, dim=64, sigma=0.1):
    """The r7/r14 operating-point generator (8 well-separated centers,
    tight noise): every true top-10 neighbor is same-cluster."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    centers = rng.normal(size=(n_centers, dim)) * 10.0
    rows = [
        (i, (centers[i % n_centers] + rng.normal(size=dim) * sigma)
            .astype("float32").tolist())
        for i in range(n)
    ]
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": [r[0] for r in rows],
                      "embedding": [r[1] for r in rows]}),
        "vec_id long, embedding array<float>",
    )


def _recall_sets(df):
    out = {}
    for r in df.collect():
        out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    return out


def _recall_at(m, b, k=10):
    num = den = 0
    for qid, want in b.items():
        num += len(m.get(qid, set()) & want)
        den += min(k, len(want))
    return num / den if den else 0.0


@pytest.mark.slow
def test_pq8_residual_controlled_recall(spark, tmp_path):
    """r15 (VERDICT r14 #2, the quality half): at the controlled
    operating point (cells == clusters, ~50 candidates/cell — where the
    r14 receipt showed 4-bit residual codes DO rank), 8-bit residual
    codes are a measured precision multiplier at working shortlists:
    s24 0.62 vs 0.53, s32 0.78 vs 0.73 (this corpus, this seed; exact
    ceiling 1.0). Honest bounds carried in BASELINE.md r15: at s=10 the
    two widths are statistically tied (0.25 vs 0.28 — a 10-slot window
    is noise-bound at either precision), and at ~500 candidates/cell
    NEITHER width ranks (the inter-rank cosine gaps fall below even the
    8-bit distortion floor — BASELINE.md r15 "Density receipt");
    the working levers there are finer cells + multi-probe. Also pins
    the 8-bit RESIDUAL lifecycle: mode + width persist together and
    read_pq_codes inverts the byte-packed residual encode."""
    from flink_parameter_server_spark.operators.ann_index import (
        _encode_codes,
        read_pq_codes,
    )

    emb = _clustered_emb(spark)
    queries = emb.where(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    idx4 = str(tmp_path / "res4")
    idx8 = str(tmp_path / "res8")
    build_ivf_index(spark, emb, idx4, n_cells=8, iters=3, pq=True, by_residual=True)
    build_ivf_index(
        spark, emb, idx8, n_cells=8, iters=3, pq=True, by_residual=True, pq_bits=8
    )
    assert index_mode(spark, idx8) == (True, True, 8, False)

    # byte-packed residual encode inverts against the persisted state
    cells = spark.read.parquet(f"{idx8}/cells")
    cbq = spark.read.parquet(f"{idx8}/pq_codebook")
    fresh = _encode_codes(spark, idx8, cells, cbq, True).select(
        "vec_id", F.col("codes").alias("c2")
    )
    stored = read_pq_codes(spark, idx8).select("vec_id", F.col("codes").alias("c1"))
    assert stored.join(fresh, "vec_id").where(F.col("c1") != F.col("c2")).count() == 0

    brute = _recall_sets(ivf_search(spark, idx8, queries, k=K, n_probe=8))
    rec = {}
    for s in (24, 32):
        for bits, idx in ((4, idx4), (8, idx8)):
            rec[(bits, s)] = _recall_at(
                _recall_sets(
                    ivf_search(spark, idx, queries, k=K, n_probe=1,
                               adc=True, shortlist=s)
                ),
                brute,
            )
    # measured: (4,24)=0.53 (8,24)=0.62 (4,32)=0.73 (8,32)=0.78
    assert rec[(8, 24)] > rec[(4, 24)], rec
    assert rec[(8, 24)] >= 0.55, rec
    assert rec[(8, 32)] >= rec[(4, 32)], rec
    assert rec[(8, 32)] >= 0.75, rec


def test_persisted_multiprobe_recall_monotone(spark, tmp_path):
    """r15 (VERDICT r14 #3): multi-probe recovers probe loss on the
    persisted lane. On an over-segmented clustered corpus (n_cells=32
    >> 8 true clusters — true neighbors scatter across a cluster's ~4
    sub-cells), the EXACT probe's recall@10 is provably non-decreasing
    in n_probe (the probed candidate set at n_probe+1 is a superset of
    the set at n_probe; both the refine and brute rank by (cos desc,
    id), so a true top-10 neighbor can only be displaced by another
    true top-10 neighbor) — pinned monotone with measured recovery:
    0.47 (p1) -> 0.76 (p2) -> 1.0 (p4) on this corpus/seed. ADC recall
    is NOT pinned monotone by design: extra probed candidates can
    displace shortlist slots on quantized scores (measured honest dip
    p2 0.75 -> p4 0.70 at s=32, receipt in BASELINE.md r15)."""
    emb = _clustered_emb(spark)
    queries = emb.where(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    idx = str(tmp_path / "mp")
    build_ivf_index(spark, emb, idx, n_cells=32, iters=3)
    brute = _recall_sets(ivf_search(spark, idx, queries, k=K, n_probe=32))
    recs = {}
    for p in (1, 2, 4, 8):
        recs[p] = _recall_at(
            _recall_sets(ivf_search(spark, idx, queries, k=K, n_probe=p)), brute
        )
    assert recs[1] <= recs[2] <= recs[4] <= recs[8], recs
    assert recs[1] <= 0.6, recs  # probe loss exists at p1
    assert recs[4] >= 0.9, recs  # and multi-probe recovers it


@pytest.mark.slow
def test_adc_shortlist_per_probe_repairs_multiprobe_dip(spark, tmp_path):
    """r15: ``shortlist_per_probe=True`` makes the committed interaction
    rule (raise shortlist WITH n_probe) the contract. Same
    over-segmented geometry as the monotone pin, by-residual ADC at a
    per-cell budget of 32: the FIXED window measurably dips as probes
    grow (0.75 at p2 -> 0.70 at p4 — each probe floods the window with
    quantized-score candidates), while the per-probe window tracks the
    exact probe's recovery curve EXACTLY on this corpus/seed
    (0.47 -> 0.76 -> 1.0 -> 1.0). Pinned: per-probe is monotone across
    the sweep, recovers probe loss by p4, and beats the fixed window
    where the dip was measured."""
    emb = _clustered_emb(spark)
    queries = emb.where(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    idx = str(tmp_path / "mppp")
    build_ivf_index(spark, emb, idx, n_cells=32, iters=3, pq=True, by_residual=True)
    brute = _recall_sets(ivf_search(spark, idx, queries, k=K, n_probe=32))
    fixed, pp = {}, {}
    for p in (1, 2, 4):
        fixed[p] = _recall_at(
            _recall_sets(
                ivf_search(spark, idx, queries, k=K, n_probe=p, adc=True, shortlist=32)
            ),
            brute,
        )
        pp[p] = _recall_at(
            _recall_sets(
                ivf_search(
                    spark, idx, queries, k=K, n_probe=p, adc=True, shortlist=32,
                    shortlist_per_probe=True,
                )
            ),
            brute,
        )
    assert pp[1] <= pp[2] <= pp[4], (fixed, pp)
    assert pp[4] >= 0.9, (fixed, pp)  # probe loss recovered under ADC
    assert pp[4] > fixed[4], (fixed, pp)  # the fixed window's dip, repaired
    # at a single probe the two windows coincide by construction
    assert pp[1] == fixed[1], (fixed, pp)


@pytest.mark.slow
def test_index_stats_geometry_and_regimes(spark, tmp_path):
    """r15: index_stats = the operating-point probe — balance stats
    equal to an independent count of the cells table by cid, exact
    density quantiles, the persisted
    PQ mode, and the receipt-derived density regime that names which
    ivf_search knob is live at this geometry."""
    idx = str(tmp_path / "st1")
    build_ivf_index(spark, t(spark, SF, "embeddings"), idx, n_cells=N_CELLS, iters=2)
    st = index_stats(spark, idx)
    sizes = [
        r["n"]
        for r in spark.read.parquet(f"{idx}/cells").groupBy("cid").agg(F.count("*").alias("n")).collect()
    ]
    assert st["n_cells"] == len(sizes)
    assert st["total"] == sum(sizes)
    assert st["max_cell"] == max(sizes)
    assert st["mean_cell"] == pytest.approx(sum(sizes) / len(sizes))
    assert st["skew"] == pytest.approx(max(sizes) * len(sizes) / sum(sizes))
    assert st["p50_cell"] <= st["p90_cell"] <= st["max_cell"]
    assert st["pq"] is False and st["pq_bits"] is None
    assert st["density_regime"] == "rankable", st
    # the density-floor regime the r15 receipt measured: most vectors
    # in a handful of cells, with an 8-bit by-residual replica so the
    # mode fields exercise the persisted marker
    emb = _clustered_emb(spark, n=2 * DENSITY_FLOOR + 200)
    idx2 = str(tmp_path / "st2")
    build_ivf_index(
        spark, emb, idx2, n_cells=2, iters=2, pq=True, by_residual=True, pq_bits=8
    )
    st2 = index_stats(spark, idx2)
    assert st2["total"] == 2 * DENSITY_FLOOR + 200
    assert st2["density_regime"] == "density_floor", st2
    assert st2["pq"] is True
    assert st2["by_residual"] is True
    assert st2["pq_bits"] == 8


@pytest.mark.slow
def test_density_floor_escape_loop_end_to_end(spark, tmp_path):
    """r15: the operating-point guide's density-floor prescription as
    one executable loop — stats flags the floor, rebuild_index retrains
    finer cells (same catalog, PQ side retrained in-mode), and
    multi-probe ADC with the per-probe window recovers recall the
    floor-geometry index could not reach. Pins the ACTION the guide
    tells a 100 TB operator to take, not just the diagnosis."""
    from flink_parameter_server_spark.operators.ann_index import rebuild_index

    # 2 centers into 2 cells = one cluster per cell, ~600
    # near-equidistant candidates/cell — the receipt's floor geometry
    emb = _clustered_emb(spark, n=1200, n_centers=2)
    queries = emb.where(F.col("vec_id") % 120 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    idx = str(tmp_path / "loop")
    build_ivf_index(spark, emb, idx, n_cells=2, iters=2, pq=True, by_residual=True)
    assert index_stats(spark, idx)["density_regime"] == "density_floor"
    brute = _recall_sets(ivf_search(spark, idx, queries, k=K, n_probe=2))
    floor_rec = _recall_at(
        _recall_sets(
            ivf_search(spark, idx, queries, k=K, n_probe=1, adc=True, shortlist=32)
        ),
        brute,
    )
    rebuild_index(spark, idx, n_cells=16, iters=2)
    st = index_stats(spark, idx)
    assert st["n_cells"] > 2 and st["density_regime"] == "rankable", st
    assert st["pq"] is True and st["by_residual"] is True  # mode survived
    # the exact probe at n_probe=8 recovers the rebuild's scatter
    # (guide item 1 — the lever with an exact guarantee)
    exact_rec = _recall_at(
        _recall_sets(ivf_search(spark, idx, queries, k=K, n_probe=8)), brute
    )
    assert exact_rec >= 0.9, (floor_rec, exact_rec)
    # ADC with the per-probe window climbs an order of magnitude off
    # the floor (measured 0.05 -> 0.56 on this corpus/seed) — but NOT
    # to the exact ceiling: near-equidistance is intrinsic to the
    # corpus, so the honest end state is exact-probe recovery with ADC
    # as the cheaper partial lane
    adc_rec = _recall_at(
        _recall_sets(
            ivf_search(
                spark, idx, queries, k=K, n_probe=8, adc=True, shortlist=32,
                shortlist_per_probe=True,
            )
        ),
        brute,
    )
    assert adc_rec >= 5 * floor_rec, (floor_rec, adc_rec)
    assert adc_rec >= 0.4, (floor_rec, adc_rec)


def test_bounded_sample_trainer_quality_and_contract(spark, tmp_path):
    """r15: build_ivf_index(train_max_per_cell=N) bounds the Lloyd
    iterations (coarse + residual codebook) to the first N*n_cells
    vectors in seeded-hash order — the avoidable n^1.5 term the r15
    receipt (BASELINE.md "Persisted serving lane across two decades")
    measured dominating the build. Pins: (1) the
    sampled build still degrades gracefully to exact brute at covering
    probe (exactness never depended on centroid quality); (2) on the
    clustered corpus a genuine sample (256 of 400 vectors) loses no
    recall at the multi-probe operating point; (3) the validation
    contract rejects a sub-1 cap."""
    import pytest as _pytest

    emb = _clustered_emb(spark)
    queries = emb.where(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    idx = str(tmp_path / "sampled")
    build_ivf_index(
        spark, emb, idx, n_cells=32, iters=3, pq=True, by_residual=True,
        train_max_per_cell=8,  # cap 256 < 400 rows: a genuine sample
    )
    # independent brute: direct cross-join top-K over the corpus
    e = emb.withColumn("ne", F.sqrt(norm2(as_double(F.col("embedding")))))
    qn = e.where(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
        F.col("ne").alias("nq"),
    )
    scored = (
        qn.crossJoin(
            e.select(F.col("vec_id").alias("neighbor_id"), "embedding", "ne")
        )
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(
                _fast_cosine(
                    as_double(F.col("qv")), as_double(F.col("embedding")),
                    F.col("nq"), F.col("ne"),
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    wb = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    ind_brute = _recall_sets(
        scored.withColumn("rk", F.row_number().over(wb)).where(F.col("rk") <= K)
    )
    brute = _recall_sets(ivf_search(spark, idx, queries, k=K, n_probe=32))
    assert _recall_at(brute, ind_brute) == 1.0  # covering probe == brute
    recs = {
        p: _recall_at(
            _recall_sets(ivf_search(spark, idx, queries, k=K, n_probe=p)), brute
        )
        for p in (1, 4)
    }
    assert recs[4] >= 0.9, recs  # sampled centroids keep the operating point
    adc = _recall_at(
        _recall_sets(
            ivf_search(
                spark, idx, queries, k=K, n_probe=4, adc=True, shortlist=32,
                shortlist_per_probe=True,
            )
        ),
        brute,
    )
    assert adc >= 0.9, (recs, adc)  # sampled residual codebook still ranks
    with _pytest.raises(ValueError, match="train_max_per_cell"):
        build_ivf_index(
            spark, emb, str(tmp_path / "bad"), n_cells=8, train_max_per_cell=0
        )


@pytest.mark.slow
def test_two_level_build_degenerate_exact_and_operating_point(spark, tmp_path):
    """r15: build_ivf_index(two_level=True) routes training AND the
    final full-catalog assignment through the centroid-of-centroids
    prune (~2n*sqrt(k) vs n*k — the build term train_max_per_cell
    cannot remove). Pins the approximation contract: (1) n_super=1
    degenerates to the flat build BITWISE (identical (vec_id, cid)
    cells); (2) at real n_super the covering probe stays exact against
    an independent brute (cells partition the catalog regardless of
    assignment quality) and the clustered operating point holds;
    (3) n_super without two_level raises; (4) composes with the
    sampled trainer + by-residual PQ (ADC searches run)."""
    import pytest as _pytest

    emb = _clustered_emb(spark)
    queries = emb.where(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    flat_idx = str(tmp_path / "flat")
    deg_idx = str(tmp_path / "deg")
    build_ivf_index(spark, emb, flat_idx, n_cells=16, iters=2)
    build_ivf_index(
        spark, emb, deg_idx, n_cells=16, iters=2, two_level=True, n_super=1
    )
    flat_cells = {
        (r["vec_id"], r["cid"])
        for r in spark.read.parquet(f"{flat_idx}/cells")
        .select("vec_id", "cid").collect()
    }
    deg_cells = {
        (r["vec_id"], r["cid"])
        for r in spark.read.parquet(f"{deg_idx}/cells")
        .select("vec_id", "cid").collect()
    }
    assert flat_cells == deg_cells  # one super cell == flat, bitwise
    # real n_super, composed with sampled trainer + residual PQ
    idx = str(tmp_path / "2l")
    build_ivf_index(
        spark, emb, idx, n_cells=32, iters=3, two_level=True,
        train_max_per_cell=8, pq=True, by_residual=True,
    )
    e = emb.withColumn("ne", F.sqrt(norm2(as_double(F.col("embedding")))))
    qn = e.where(F.col("vec_id") % 40 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
        F.col("ne").alias("nq"),
    )
    scored = (
        qn.crossJoin(
            e.select(F.col("vec_id").alias("neighbor_id"), "embedding", "ne")
        )
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(
                _fast_cosine(
                    as_double(F.col("qv")), as_double(F.col("embedding")),
                    F.col("nq"), F.col("ne"),
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    wb = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    ind_brute = _recall_sets(
        scored.withColumn("rk", F.row_number().over(wb)).where(F.col("rk") <= K)
    )
    covering = _recall_sets(ivf_search(spark, idx, queries, k=K, n_probe=32))
    assert _recall_at(covering, ind_brute) == 1.0
    p4 = _recall_at(
        _recall_sets(ivf_search(spark, idx, queries, k=K, n_probe=4)), ind_brute
    )
    assert p4 >= 0.9, p4
    adc = _recall_at(
        _recall_sets(
            ivf_search(
                spark, idx, queries, k=K, n_probe=4, adc=True, shortlist=32,
                shortlist_per_probe=True,
            )
        ),
        ind_brute,
    )
    assert adc >= 0.9, (p4, adc)
    with _pytest.raises(ValueError, match="n_super"):
        build_ivf_index(spark, emb, str(tmp_path / "bad2"), n_cells=8, n_super=2)


@pytest.mark.slow
def test_two_level_lifecycle_mode_dispatch(spark, tmp_path):
    """r15: a two-level build PERSISTS its quantizer hierarchy and
    every later lifecycle assignment dispatches through it (the
    coarse-assignment analog of the pq_mode design). Pins: (1)
    add_vectors appends FOLLOW the persisted prune (recomputed
    persisted-mode assignment == what landed in cells), so (2) a
    replayed batch is idempotent — the hazard this exists to prevent
    is a flat-argmax replay landing an id in a different cell than the
    build did and silently duplicating it; (3) the PQ codes replica
    stays in lockstep through mode-dispatched appends; (4) rebuild
    inherits the persisted mode by default and an explicit flat
    rebuild sheds the hierarchy."""
    from flink_parameter_server_spark.operators.ann_index import (
        _assign_for_index,
        _normed,
        rebuild_index,
    )

    emb = _clustered_emb(spark)
    base = emb.where(F.col("vec_id") < 300)
    batch = emb.where(F.col("vec_id") >= 300)
    idx = str(tmp_path / "2ll")
    build_ivf_index(
        spark, base, idx, n_cells=16, iters=2, two_level=True, pq=True,
        by_residual=True,
    )
    assert index_stats(spark, idx)["assign_mode"] == "two_level"
    add_vectors(spark, idx, batch)
    assert spark.read.parquet(f"{idx}/cells").count() == 400
    add_vectors(spark, idx, batch)  # replay: idempotent under the mode
    assert spark.read.parquet(f"{idx}/cells").count() == 400
    assert spark.read.parquet(f"{idx}/pq_codes").count() == 400
    vn = _normed(batch.select("vec_id", "embedding"), "embedding", "ne")
    want = {
        (r["vec_id"], r["cid"])
        for r in _assign_for_index(spark, idx, vn, index_mode(spark, idx))
        .select("vec_id", "cid").collect()
    }
    got = {
        (r["vec_id"], r["cid"])
        for r in spark.read.parquet(f"{idx}/cells")
        .where(F.col("vec_id") >= 300).select("vec_id", "cid").collect()
    }
    assert got == want  # appends followed the persisted prune
    rebuild_index(spark, idx, n_cells=16, iters=2)
    assert index_stats(spark, idx)["assign_mode"] == "two_level"
    rebuild_index(spark, idx, n_cells=16, iters=2, two_level=False)
    assert index_stats(spark, idx)["assign_mode"] == "flat"
