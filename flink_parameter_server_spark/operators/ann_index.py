"""Persistent IVF index: build once, probe many (north-star ANN at
100 TB).

The registry's `embedding_ann_topk` IVF branch recomputes its coarse
quantizer inline per query — right for an oracle-checked single-shot
query, wrong for a serving catalog. This module is the production
shape its docstring promises:

- :func:`build_ivf_index` — sampled seeded k-means (Lloyd iterations as
  pure DataFrame ops: broadcast centroids, argmax-cosine assignment,
  per-dimension mean via posexplode + groupBy) and TWO parquet tables:
  ``centroids`` (cid, cv, nc) and ``cells`` (vec_id, embedding, ne)
  written ``partitionBy("cid")`` — the cell IS the partition.
- :func:`ivf_search` — assign each query to its ``n_probe``
  best-cosine centroids (one broadcast of the <= n_cells centroid
  table), then scan ONLY the probed cells: the probed cid set is
  bounded by n_cells, so it collects to the driver and pushes down as
  a literal partition filter — the scan's PartitionFilters prune every
  unprobed cell without listing its files. Exact cosine re-rank inside
  the probed cells.

Scale shape: the index build is one crossJoin against a broadcast
centroid table per Lloyd iteration (bounded: n_cells rows) plus one
partitioned write; a 100 TB catalog shards `cells` across thousands of
cid partitions and every query batch touches n_probe of them. Recall
tuning = n_probe (multi-probe) or n_cells; ``n_probe >= n_cells``
degrades gracefully to exact brute force (pinned losslessly in
tests/test_ann_index.py).
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import int_hash
from ..functions.vectors import as_double, norm2
from ..scratch import pinned, scoped_checkpoint
from .similarity import _fast_cosine, _ivf2_assign, _nearest_centroids, _top_k, _with_parent

IVF_SEED = 2027
_SCHEMAS = {
    "cells": "vec_id bigint, embedding array<float>, ne double, cid bigint",
    "pq_codes": "vec_id bigint, packed bigint, cid bigint",
}


def _touched_cids(assigned: DataFrame) -> list:
    """The sorted cid set of an assigned frame: <= n_cells values, so it
    collects to the driver whatever the batch or query count."""
    return sorted(r["cid"] for r in assigned.select("cid").distinct().collect())


def _touched_cells(spark, index_dir: str, cids: list, table: str = "cells") -> DataFrame:
    """The one touched-cell probe: the rows of a cid-partitioned table
    (``cells`` or ``pq_codes``) in the listed cells only. The LITERAL
    ``cid IN (...)`` filter is static partition pruning on the scan
    (visible as PartitionFilters, no dynamic-pruning dependency): every
    untouched cell is skipped without listing its files. A table not
    written yet reads as an empty typed frame — a semantic-dedup store
    starts centroids-only (streaming/semantic_dedup.build_semantic_store),
    exactly like the band store starts empty in incremental_dedup.
    Existence resolves through the Hadoop FileSystem API (r11, ADVICE
    r10): a driver-local os.path.isdir would read a populated HDFS/S3
    store as empty. The read keeps the file schema and discovers ``cid``
    from the partition dirs."""
    from ..sources.fsutil import read_or_empty

    path = os.path.join(index_dir, table)
    return read_or_empty(spark, path, _SCHEMAS[table], typed=False).where(F.col("cid").isin(cids))


def _normed(df: DataFrame, vec_col: str, out: str) -> DataFrame:
    return df.where(norm2(as_double(F.col(vec_col))) > 0).withColumn(
        out, F.sqrt(norm2(as_double(F.col(vec_col))))
    )


def _dim_means(df: DataFrame, keys, vec, out: str) -> DataFrame:
    """The Lloyd update of both trainers: the per-dimension mean of the
    ``vec`` arrays per ``keys`` group, as an array ``out`` in dimension
    order (posexplode -> avg per (keys, pos) -> array_sort of the
    collected (pos, mu) structs)."""
    return (
        df.select(*keys, F.posexplode(vec).alias("pos", "x"))
        .groupBy(*keys, "pos")
        .agg(F.avg("x").alias("mu"))
        .groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mu"))), lambda s: s["mu"]
            ).alias(out)
        )
    )


def _train_centroids(
    v,
    n_cells: int,
    iters: int,
    seed: int,
    two_level: bool = False,
    n_super: int | None = None,
    train_cap: int | None = None,
) -> DataFrame:
    """Lloyd training over a normed (vec_id, embedding, ne) frame —
    factored out of :func:`build_ivf_index` (r10) so the in-memory
    fixed-k assignment (:func:`kmeans_assign`) trains the same
    quantizer without a disk round-trip. Init = the n_cells vectors
    first in seeded-hash order; each iteration is one broadcast
    assignment pass + one per-dimension mean. Every intermediate is
    checkpointed, so the CALLER opens the scratch scope that consumes
    the returned frame.

    ``two_level`` (r11): each iteration's assignment pass runs through
    the centroid-of-centroids prune (:func:`similarity._ivf2_assign`) —
    TRAINING itself is n*k per iteration under flat argmax, so at
    k >> sqrt(n-scale) the prune applies to Lloyd exactly as it does
    to the final assignment (~2n*sqrt(k) per iteration; the
    per-iteration super-quantizer retrains over the current k-row
    centroid table — driver-local scale). Approximation contract:
    n_super=1 degenerates to flat training BITWISE (one super cell
    holds every centroid — pinned); at real n_super the pruned
    assignment can follow a DIFFERENT Lloyd trajectory from the same
    init (standard hierarchical k-means — same objective, measured
    quality-comparable-or-better on the clustered pin).

    ``train_cap`` (r15): run the Lloyd ITERATIONS over the first
    ``train_cap`` vectors in the SAME seeded-hash order the init uses
    (a superset of the init rows by construction), instead of the full
    catalog. The full-catalog assignment pass stays with the caller —
    this bounds only the trainer, which is otherwise iters extra
    n*n_cells passes (the n^1.5 term the r15 receipt, BASELINE.md
    "Persisted serving lane across two decades", measured dominating
    the build). orderBy+limit is a TakeOrdered (per-partition top-cap +
    driver merge), not a full sort shuffle.
    None = train on everything (the pre-r15 path, byte-identical)."""
    tv = v
    if train_cap is not None:
        # the limit's output is ONE partition (TakeOrdered collapses to
        # the driver-merge task) — left alone it serializes every Lloyd
        # assignment pass, the FIXTURES.md #13 pathology (measured: the
        # capped x10 build ran 72.5 s vs 40.1 uncapped before this
        # repartition). The consumer is the heavy broadcast-cosine
        # assignment, the case where restoring width wins; the
        # round-robin shuffle is bounded by train_cap rows.
        tv = scoped_checkpoint(
            v.orderBy(int_hash(F.col("vec_id"), 0, seed), "vec_id")
            .limit(train_cap)
            .select("vec_id", "embedding", "ne")
            .repartition(v.sparkSession.sparkContext.defaultParallelism)
        )
    cent = scoped_checkpoint(
        tv.orderBy(int_hash(F.col("vec_id"), 0, seed), "vec_id")
        .limit(n_cells)
        .select(
            F.row_number()
            .over(Window.orderBy(int_hash(F.col("vec_id"), 0, seed), "vec_id"))
            .alias("cid"),
            as_double(F.col("embedding")).alias("cv"),
            F.col("ne").alias("nc"),
        )
    )
    for _ in range(iters):
        if two_level:
            geo = _two_level_tables(v.sparkSession, cent, n_super, iters, seed)
            assigned = _ivf2_assign(tv, geo)
        else:
            assigned = _nearest_centroids(tv, cent)
        means = _dim_means(assigned, ["cid"], as_double(F.col("embedding")), "cv")
        cent = scoped_checkpoint(
            means.where(norm2(F.col("cv")) > 0).select(
                "cid", "cv", F.sqrt(norm2(F.col("cv"))).alias("nc")
            )
        )
    return cent


def kmeans_centroids(
    spark,
    emb: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    seed: int = IVF_SEED,
    two_level: bool = False,
    n_super: int | None = None,
) -> DataFrame:
    """Train the fixed-k coarse quantizer and return it as a
    DRIVER-LOCAL relation (cid, cv array<double>, nc) — <= n_cells rows
    collected (bounded by construction, the ivf_search literal-pruning
    pattern), so the returned frame has no checkpoint dependency and
    broadcasts at n_cells rows no matter how large the corpus is.

    Sizing k at scale (measured, BASELINE.md r10/r11; the receipt
    script is in git history): assignment costs n*k cosines, the
    semantic cell self-join costs ~n^2/k — a CONSTANT k makes the pair
    join the quadratic term (fixedk16 measured slower than stride at
    10x), a fixed-stride rule (k = n/stride) makes the ASSIGNMENT quadratic.
    k ~ sqrt(n) balances both at n^1.5 with a sqrt(n)-row broadcast
    (~16 MB at 1e9 docs) — the standard IVF sizing, the geometry to
    deploy, and (r11) the sizing the oracle-checked counted-n rule in
    similarity.ivf_assign now uses; past that, assignment itself goes
    multi-level (assign against a coarse quantizer of the centroids —
    :func:`kmeans_assign_two_level`).

    ``emb``: (vec_id, embedding[, ne]) — zero-norm vectors excluded.
    ``two_level``: route each Lloyd iteration's assignment through the
    centroid-of-centroids prune (see :func:`_train_centroids`) — the
    k >> sqrt(n)-regime training form."""
    v = _normed(emb.select("vec_id", "embedding"), "embedding", "ne")
    with pinned(spark):
        cent = _train_centroids(v, n_cells, iters, seed, two_level=two_level, n_super=n_super)
        rows = [
            (int(r["cid"]), [float(x) for x in r["cv"]], float(r["nc"])) for r in cent.collect()
        ]
    return spark.createDataFrame(rows, "cid bigint, cv array<double>, nc double")


def kmeans_assign(
    spark,
    emb: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    seed: int = IVF_SEED,
    keep_centroid_cos: bool = False,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Fixed-k-geometry form of :func:`similarity.ivf_assign`: both
    rank cells with the one nearest-centroid ranker
    (:func:`similarity._nearest_centroids`) and return the same
    shape (vec_id, embedding, ne, cid[, cos_c]), so EVERY
    semantic consumer runs on sampled-k-means cells unchanged:
    embedding_semantic_pairs(assign=), corpus_curate(sem_assign=),
    mlprep's cluster_balance part, semdedup_prune(assign=). The
    assignment is one crossJoin against the n_cells-row driver-local
    centroid table: n*k FLOPs and a k-row broadcast, closing the
    stride rule's quadratic assignment term (VERDICT r9 wrong-#2) —
    size k ~ sqrt(n) so the cell self-join stays sub-quadratic too
    (see :func:`kmeans_centroids`). Like the stride rule — and unlike
    per-subset retraining
    — the quantizer is SUBSET-INDEPENDENT once trained: filtering the
    corpus never moves a surviving vector's cell, which is what lets
    the curated pipeline reuse one full-corpus pair generator after
    its lexical stages.

    ``emb``: a normed (vec_id, embedding, ne) frame (the
    embeddings_normed shape). ``centroids``: a pre-trained
    kmeans_centroids table to reuse (skips training)."""
    cent = centroids if centroids is not None else kmeans_centroids(
        spark, emb, n_cells=n_cells, iters=iters, seed=seed
    )
    # zero-norm vectors have no cosine cell — exclude exactly as the
    # persisted build's _normed does (keeps the cosine's na*nb divisor
    # nonzero under ANSI mode)
    return _nearest_centroids(
        emb.where(F.col("ne") > 0), cent, keep_cos=keep_centroid_cos
    )


def kmeans_assign_two_level(
    spark,
    emb: DataFrame,
    centroids: DataFrame,
    n_super: int | None = None,
    iters: int = 2,
    seed: int = IVF_SEED,
    keep_centroid_cos: bool = False,
    n_super_probe: int = 1,
) -> DataFrame:
    """Two-level coarse assignment for the k > sqrt(n) regime (VERDICT
    r10 missing-#2, the `kmeans_centroids` docstring's "assignment goes
    multi-level" made executable): a centroid-of-centroids prune.

    Flat argmax costs n*k cosines — at 1e9+ docs with k ~ 30k the
    broadcast (16 MB) is fine but the FLOPs start to dominate. Here:

    1. a SUPER-quantizer of n_super ~ ceil(sqrt(k)) cells is Lloyd-
       trained over the centroid table ITSELF (k rows — driver-local
       scale, two cheap iterations), and each centroid gets a parent
       super-cell by flat argmax (k x sqrt(k) FLOPs, all tiny);
    2. every vector argmaxes against the n_super super-centroids
       (n*sqrt(k) FLOPs, sqrt(k)-row broadcast);
    3. vectors join their super-cell's CHILDREN on the parent id — a
       broadcast HASH join on scid, not a nested loop — and argmax
       within them (~n*k/sqrt(k) FLOPs on balanced parents).

    Total ~2n*sqrt(k) FLOPs vs n*k flat. NOT exactly lossless at
    n_super_probe=1: a vector whose true nearest centroid lives just
    across a super-cell boundary lands in that centroid's neighbor
    instead (the standard hierarchical-quantizer approximation).
    ``n_super_probe`` is the recall knob, exactly as n_probe is for
    cell probes: the vector keeps its p best super cells and argmaxes
    over the UNION of their children (~n*p*k/sqrt(k) second-stage
    FLOPs — still << n*k for p << sqrt(k)); p >= n_super degrades
    EXACTLY to flat argmax (every child reachable — pinned). On
    clustered corpora the p=1 disagreement fraction is small; pinned
    vs flat argmax in tests/test_fixedk_semantic.py (exact equality on
    well-separated clusters, bounded + measured divergence on the
    fixture, monotone-recovery under p).

    ``emb``: a normed (vec_id, embedding, ne) frame. ``centroids``: a
    kmeans_centroids-shaped driver-local (cid, cv, nc) relation.
    Output shape matches :func:`kmeans_assign` (vec_id, embedding, ne,
    cid[, cos_c]) so every semantic consumer runs on it unchanged.
    Steps 2-3 are the one two-level assignment
    (:func:`similarity._ivf2_assign`) the oracle lane's
    :func:`similarity.ivf2_assign` runs over its counted tables; the
    lanes differ only in how the (sup, children) tables are built."""
    # zero-norm vectors excluded as in kmeans_assign
    return _ivf2_assign(
        emb.where(F.col("ne") > 0),
        _two_level_tables(spark, centroids, n_super, iters, seed),
        keep_centroid_cos,
        n_super_probe,
    )


def _two_level_tables(spark, centroids: DataFrame, n_super: int | None, iters: int, seed: int):
    """Train the super-quantizer over the centroid table itself and
    return the two DRIVER-LOCAL relations the prune needs, as the
    (sup, children) geometry :func:`similarity._ivf2_assign` takes:
    ``sup`` (scid, sv, ns) and ``children`` (cid, cv, nc, scid — each
    centroid with its parent super cell). Both are <= k rows — the
    collect-bounded discipline kmeans_centroids already uses."""
    cent_v = centroids.select(
        F.col("cid").alias("vec_id"), F.col("cv").alias("embedding"),
        F.col("nc").alias("ne"),
    )
    k = centroids.count()
    if n_super is None:
        n_super = max(1, int(float(k) ** 0.5 + 0.5))
    with pinned(spark):
        sup = _train_centroids(cent_v, n_super, iters, seed).select(
            F.col("cid").alias("scid"), F.col("cv").alias("sv"), F.col("nc").alias("ns")
        )
        # parent of each centroid: flat argmax over the super table (k x
        # sqrt(k) — driver-local scale), collected alongside the centroids
        rows = [
            (int(r["cid"]), [float(x) for x in r["cv"]], float(r["nc"]), int(r["scid"]))
            for r in _with_parent(centroids, sup).collect()
        ]
        sup_rows = [
            (int(r["scid"]), [float(x) for x in r["sv"]], float(r["ns"]))
            for r in sup.collect()
        ]
    sup_local = spark.createDataFrame(sup_rows, "scid bigint, sv array<double>, ns double")
    children = spark.createDataFrame(
        rows, "cid bigint, cv array<double>, nc double, scid bigint"
    )
    return sup_local, children


def _pq_train_codebook(
    v: DataFrame, seed: int = IVF_SEED, n_codes: int | None = None
) -> DataFrame:
    """Index-lane PQ codebook (r12): anchors = the ``n_codes``
    (default PQ_K) vectors first in seeded-hash order — the same
    sampling discipline as the Lloyd init (at 100 TB swap for
    per-subspace sampled k-means; the encode and ADC shapes are
    unchanged) — normalized and split into PQ_M subvector codewords.
    Returns (m, aid, cs): <= n_codes*PQ_M rows, a CONSTANT-size table
    at any catalog size (r15: n_codes = 1 << pq_bits — 16 for the
    4-bit default, 256 for pq_bits=8)."""
    from .similarity import PQ_K, _pq_normed, _pq_subvecs

    anch = (
        v.orderBy(int_hash(F.col("vec_id"), 0, seed), "vec_id")
        .limit(n_codes if n_codes is not None else PQ_K)
        .select("vec_id", "embedding", "ne")
    )
    return _pq_subvecs(_pq_normed(anch), "vec_id", "cs").select(
        F.col("vec_id").alias("aid"), "m", "cs"
    )


def _residual_xn(df: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, embedding, ne, cid) x broadcast centroids ->
    (vec_id, cid, xn): the UNIT vector minus its cell's unit centroid —
    the quantity a by-residual codebook quantizes (Jegou et al. 2011 /
    FAISS IndexIVFPQ by_residual=true). Map-only: one constant
    centroid broadcast, one zip_with per row."""
    return df.join(F.broadcast(cent.select("cid", "cv", "nc")), "cid").select(
        "vec_id",
        "cid",
        F.zip_with(
            F.transform(as_double(F.col("embedding")), lambda x: x / F.col("ne")),
            F.transform(F.col("cv"), lambda c: c / F.col("nc")),
            lambda a, b: a - b,
        ).alias("xn"),
    )


def _pq_train_residual_codebook(
    assigned: DataFrame,
    cent: DataFrame,
    seed: int = IVF_SEED,
    iters: int = 2,
    n_codes: int | None = None,
    train_cap: int | None = None,
) -> DataFrame:
    """By-residual codebook via per-subspace Lloyd k-means — the
    "sampled k-means per subspace" form _pq_train_codebook's docstring
    promises at scale, REQUIRED here: residuals are near-isotropic
    noise, and 16 randomly-sampled anchors quantize them so poorly the
    ADC ranking carries almost no within-cell signal (measured on the
    clustered pin: recall@10 0.21 sampled vs 0.15 plain-PQ; Lloyd
    codewords are what make the residual lane worth building). Init =
    the PQ_K residuals first in seeded-hash order; each iteration is
    one broadcast argmin-L2 assignment over the (vec_id, m) subvector
    relation + one per-(m, aid, pos) mean — two shuffles, build-time
    only. Codewords are NOT normalized (a residual has no meaningful
    unit direction; its magnitude is the signal). aid = dense init rank
    0..PQ_K-1 per subspace, so packing, the rank table, and the ADC LUT
    are unchanged. Same determinism class as the coarse trainer: the
    per-dimension avg is float fold-order-dependent, which the persisted
    lane's pins tolerate (exactness pins are codebook-independent, the
    losslessness pins compare against the PERSISTED codebook).
    ``n_codes`` (r15): codewords per subspace — PQ_K for the 4-bit
    default, 256 for pq_bits=8. ``train_cap`` (r15): train over the
    first train_cap rows of ``assigned`` in the coarse trainer's
    seeded-hash order — same bounded-sample discipline, same reason
    (the iterations are the avoidable full-catalog passes; the encode
    of every vector happens downstream regardless)."""
    from ..functions.vectors import l2sq
    from .similarity import PQ_K, _pq_subvecs

    if n_codes is None:
        n_codes = PQ_K
    rows = assigned
    if train_cap is not None:
        # same single-partition-after-limit hazard as the coarse
        # trainer's sample (FIXTURES.md #13) — restore width before the
        # subvector explode + Lloyd passes
        rows = (
            assigned.orderBy(int_hash(F.col("vec_id"), 0, seed), "vec_id")
            .limit(train_cap)
            .repartition(assigned.sparkSession.sparkContext.defaultParallelism)
        )
    sv = _pq_subvecs(_residual_xn(rows, cent), "vec_id", "sv")
    worder = Window.partitionBy("m").orderBy(
        int_hash(F.col("vec_id"), 0, seed), "vec_id"
    )
    cb = (
        sv.withColumn("aid", F.row_number().over(worder) - 1)
        .where(F.col("aid") < n_codes)
        .select("m", F.col("aid").cast("long").alias("aid"), F.col("sv").alias("cs"))
    )
    cb = scoped_checkpoint(cb)
    for _ in range(iters):
        cba = cb.groupBy("m").agg(
            F.collect_list(F.struct("aid", "cs")).alias("cbm")
        )
        enc = sv.join(F.broadcast(cba), "m").select(
            "m",
            "sv",
            F.array_min(
                F.transform(
                    "cbm",
                    lambda c: F.struct(
                        l2sq(F.col("sv"), c["cs"]).alias("d2"),
                        c["aid"].alias("aid"),
                    ),
                )
            )["aid"].alias("aid"),
        )
        cb = scoped_checkpoint(_dim_means(enc, ["m", "aid"], F.col("sv"), "cs"))
    return cb.select("aid", "m", "cs")


def _write_pq_mode(spark, index_dir: str, by_residual: bool, pq_bits: int = 4) -> None:
    spark.createDataFrame(
        [(bool(by_residual), int(pq_bits))], "by_residual boolean, pq_bits int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/pq_mode")


class IndexMode(NamedTuple):
    """The persisted mode of an index dir — what every post-build
    assignment, encode and probe must follow. ``pq``: a PQ codes replica
    exists (its ``pq_codebook`` does). ``by_residual`` (r14): the codes
    quantize residuals from the cell centroid. ``bits`` (r15): bits per
    subspace code, 4 or 8. ``two_level`` (r15): the build persisted its
    quantizer hierarchy (``assign_children``/``assign_super``), so every
    assignment runs the two-level prune over it."""

    pq: bool
    by_residual: bool
    bits: int
    two_level: bool


def index_mode(spark, index_dir: str) -> IndexMode:
    """Read the persisted mode once; every public lifecycle call takes
    it from here. Legacy readings: an index with no ``pq_mode`` marker
    (r12/r13) is plain 4-bit PQ, a marker without ``pq_bits`` (r14) is
    4-bit, and an index without ``assign_children`` (every pre-r15 and
    every flat build) assigns flat. A marker with no codebook is inert
    (the build writes the marker first): such a dir reads as pq=False."""
    from ..sources.fsutil import path_exists

    two_level = path_exists(spark, f"{index_dir}/assign_children")
    if not path_exists(spark, f"{index_dir}/pq_codebook"):
        return IndexMode(False, False, 4, two_level)
    if not path_exists(spark, f"{index_dir}/pq_mode"):
        return IndexMode(True, False, 4, two_level)
    row = spark.read.parquet(f"{index_dir}/pq_mode").first().asDict()
    return IndexMode(True, bool(row["by_residual"]), int(row.get("pq_bits") or 4), two_level)


def _load_assign_tables(spark, index_dir: str):
    """The persisted two-level (sup, children) geometry."""
    return (
        spark.read.parquet(f"{index_dir}/assign_super"),
        spark.read.parquet(f"{index_dir}/assign_children"),
    )


def _assign_for_index(spark, index_dir: str, vn: DataFrame, mode: IndexMode) -> DataFrame:
    """Assign a normed (vec_id, embedding, ne) frame in the index's
    PERSISTED mode — the coarse-assignment analog of
    :func:`_encode_codes`: the one dispatch point every post-build
    assignment shares, so a two-level index can never accrete
    flat-argmax rows (or vice versa). A replayed id therefore lands in
    the cell it is already in, which is what lets the presence probe
    scan only the touched cells."""
    if mode.two_level:
        return _ivf2_assign(vn, _load_assign_tables(spark, index_dir))
    return _nearest_centroids(vn, spark.read.parquet(f"{index_dir}/centroids"))


def _intake(spark, index_dir: str, emb: DataFrame, mode: IndexMode) -> DataFrame:
    """The one batch intake of add_vectors and the semantic-dedup store:
    norm a (vec_id, embedding) batch (zero-norm vectors dropped, as in
    the build), keep ONE row per vec_id, and assign it in the index's
    persisted mode -> (vec_id, embedding, ne, cid). The keeper is the
    min embedding (as its string rendering) per vec_id (ADVICE r8): an
    intra-batch duplicate id would otherwise append twice and surface
    as a doubled neighbor with unstable rk tie-breaks; duplicate ids
    with conflicting embeddings violate the one-id contract anyway, but
    the keeper must not depend on scan order."""
    wdup = Window.partitionBy("vec_id").orderBy(F.col("embedding").cast("string"))
    v = (
        _normed(emb.select("vec_id", "embedding"), "embedding", "ne")
        .withColumn("_rn", F.row_number().over(wdup))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    return _assign_for_index(spark, index_dir, v, mode)


def _encode_codes(spark, index_dir: str, rows: DataFrame, cbq: DataFrame, by_residual: bool) -> DataFrame:
    """Encode (vec_id, embedding, ne, cid) rows against the persisted
    codebook in the index's declared mode — the ONE dispatch point the
    build, add_vectors, and compact_index replica writes share, so a
    by-residual index can never accrete plain-PQ codes (or vice versa)."""
    from .similarity import pq_codes_arr, pq_codes_from_xn

    if by_residual:
        cent = spark.read.parquet(f"{index_dir}/centroids")
        return pq_codes_from_xn(_residual_xn(rows, cent), cbq, keep=("cid",))
    return pq_codes_arr(rows, codebook=cbq, keep=("cid",))


def _pq_rank_table(cbq: DataFrame) -> DataFrame:
    """(m, aid, rank): dense per-subspace anchor ranks in aid order —
    the 4-bit packing alphabet (rank < PQ_K = 16). Derived from the
    persisted codebook, so pack/unpack is deterministic for the life
    of the codebook (a rebuild retrains codebook AND codes together)."""
    wm = Window.partitionBy("m").orderBy("aid")
    return (
        cbq.select("m", "aid")
        .distinct()
        .withColumn("rank", F.row_number().over(wm) - 1)
    )


def _pq_pack_maps(cbq: DataFrame, bits: int = 4) -> tuple[str, str]:
    """Collect the <= n_codes*PQ_M-row rank table (bounded: 128 rows at
    4 bits, 2048 at 8) and render the two literal map expressions:
    ``aid*PQ_M + m -> rank`` (pack) and ``rank*PQ_M + m -> aid``
    (unpack) — one JVM parse each, map-only at any scale."""
    from .similarity import PQ_M

    n_codes = 1 << bits
    rows = _pq_rank_table(cbq).collect()
    # ADVICE r13: ranks must fit the code width — a codebook that ever
    # carried more anchors in one subspace would otherwise corrupt
    # packed codes silently
    bad = max((r["rank"] for r in rows), default=0)
    if bad >= n_codes:
        raise ValueError(
            f"PQ codebook carries {bad + 1} anchors in one subspace; "
            f"{bits}-bit packing requires <= {n_codes}"
        )
    a2r = ", ".join(
        f"{r['aid'] * PQ_M + r['m']}L, {r['rank']}L" for r in rows
    )
    r2a = ", ".join(
        f"{r['rank'] * PQ_M + r['m']}L, {r['aid']}L" for r in rows
    )
    return f"map({a2r})", f"map({r2a})"


def _pq_pack_expr(a2r_map: str, codes: str = "codes", bits: int = 4) -> str:
    """codes array<long> (anchor ids, position = subspace m) -> ONE
    packed BIGINT, ``bits`` bits per code: sum of rank_m << bits*m. The
    persisted replica's storage form (r13, VERDICT r12 #3): the
    array<long> form measured 10.3x smaller than raw vectors on disk;
    the scalar packed column drops the per-row array repetition
    overhead and stores the whole vector's codes in PQ_M*bits
    meaningful bits (32 at the 4-bit default, 64 at pq_bits=8).

    Overflow discipline (r15, verified under ANSI): PQ_M=8 byte fields
    fill the long EXACTLY, so at 8 bits rank 128-255 in subspace 7 sets
    the sign bit — the pack shifts the rank directly
    (``shiftleft(rank, bits*m)``, a bitwise op that never raises)
    instead of multiplying by a power-of-two literal (``rank * 1L<<56``
    ARITHMETIC_OVERFLOWs under ANSI); the summed fields are
    bit-disjoint, so every partial sum is carry-free and
    representable. At 4 bits the value stays below 2^32 and equals the
    r13 form ``rank * shiftleft(1L, 4m)``, so indexes written by it
    read back unchanged."""
    from .similarity import PQ_M

    return (
        f"aggregate(zip_with({codes}, sequence(0, {PQ_M - 1}), "
        f"(cd, mm) -> shiftleft(element_at({a2r_map}, cd * {PQ_M} + mm), "
        f"{bits} * mm)), 0L, (a, v) -> a + v)"
    )


def _pq_rank_read_expr(packed: str, bits: int) -> str:
    """The per-subspace rank read ``(packed >> bits*mm) & mask`` as a
    SQL fragment over a lambda variable ``mm`` — shared by unpack and
    the ADC scan. shiftrightunsigned + bitwise AND, NOT div/%: a
    negative packed long (8-bit sign-bit case) breaks integral div,
    and Spark's % follows the dividend sign (measured: -1 % 256 = -1).
    On the non-negative 4-bit values it equals the r13 div/% read."""
    return f"(shiftrightunsigned({packed}, {bits} * mm) & {(1 << bits) - 1})"


def _pq_unpack_expr(r2a_map: str, packed: str = "packed", bits: int = 4) -> str:
    """packed BIGINT -> codes array<long> (anchor ids) — the map-only
    inverse of :func:`_pq_pack_expr`; the hash-checkable view."""
    from .similarity import PQ_M

    return (
        f"transform(sequence(0, {PQ_M - 1}), mm -> element_at({r2a_map}, "
        f"{_pq_rank_read_expr(packed, bits)} * {PQ_M} + mm))"
    )


def _packed_codes(spark, index_dir: str, rows: DataFrame, mode: IndexMode) -> DataFrame:
    """The one packed-codes encoder of the build, add_vectors and
    compact_index's heal: (vec_id, embedding, ne, cid) rows -> the
    persisted replica's (vec_id, packed, cid) form, encoded against the
    persisted codebook in ``mode`` (:func:`_encode_codes`) and packed
    ``mode.bits`` wide (r13, VERDICT r12 #3: one BIGINT per vector, not
    array<long>)."""
    cbq = spark.read.parquet(f"{index_dir}/pq_codebook")
    a2r, _ = _pq_pack_maps(cbq, bits=mode.bits)
    return _encode_codes(spark, index_dir, rows, cbq, mode.by_residual).selectExpr(
        "vec_id", f"{_pq_pack_expr(a2r, bits=mode.bits)} AS packed", "cid"
    )


def read_pq_codes(spark, index_dir: str) -> DataFrame:
    """The hash-checkable ``(vec_id, codes array<long>, cid)`` view of
    the packed replica — unpacked map-only against the persisted
    codebook's rank table (tests and receipts read this; the ADC probe
    itself scores the packed column directly, no unpack). Width comes
    from the persisted ``pq_mode`` marker (r15)."""
    bits = index_mode(spark, index_dir).bits
    cbq = spark.read.parquet(f"{index_dir}/pq_codebook")
    _, r2a = _pq_pack_maps(cbq, bits=bits)
    return spark.read.parquet(f"{index_dir}/pq_codes").selectExpr(
        "vec_id", f"{_pq_unpack_expr(r2a, bits=bits)} AS codes", "cid"
    )


def build_ivf_index(
    spark,
    emb: DataFrame,
    index_dir: str,
    n_cells: int = 16,
    iters: int = 2,
    seed: int = IVF_SEED,
    pq: bool = False,
    by_residual: bool = False,
    pq_bits: int = 4,
    train_max_per_cell: int | None = None,
    two_level: bool = False,
    n_super: int | None = None,
) -> None:
    """Train the coarse quantizer and write the index.

    ``emb``: (vec_id, embedding array<float>). Init = the n_cells
    vectors first in seeded-hash order (deterministic, replayable —
    FIXTURES.md discipline; at 100 TB swap for a sampled init, the
    iterations are unchanged). Each Lloyd iteration: one broadcast
    assignment pass + one per-dimension mean (posexplode -> groupBy
    (cid, pos) -> rebuild), i.e. two shuffles per iteration on the
    exploded (row x dim) relation. Zero-norm vectors are excluded (they
    have no cosine cell).

    ``pq=True`` (r12 — the persisted IVFADC form): additionally train
    a constant-size PQ codebook (:func:`_pq_train_codebook`) and write
    a ``pq_codes`` table — (vec_id, codes array<long>), partitioned by
    the SAME cid as the cells so an ADC probe prunes identically. The
    codes replica is PQ_M small codes per vector vs the raw 256-byte
    embedding: the probe's scan side; the raw cells table is then
    touched only for the shortlist refine (:func:`ivf_search`
    ``adc=True``). Encode is map-only (similarity.pq_codes_arr).

    ``by_residual=True`` (r14, with pq=True): quantize each vector's
    RESIDUAL from its cell's unit centroid instead of the vector
    itself (Jegou et al. 2011's by-residual IVFADC, FAISS's default).
    Measured justification (BASELINE.md r14 recall receipt): on a
    clustered corpus non-residual codes carry mostly the CLUSTER
    identity — every in-cell candidate encodes near-identically and
    the ADC shortlist degenerates (recall@10 0.03-0.17 vs the ~0.8
    exact-probe operating point); residual codes restore the
    within-cell offsets the shortlist actually ranks on. The ADC score
    still decomposes per query: <q, c + r> = <q, c> (one scalar per
    probed cell, already computed by the probe) + the same per-query
    codeword LUT over the shared residual codebook — so the packed
    4-bit scan, the rank table, and the lifecycle are IDENTICAL; the
    mode is persisted in a one-row ``pq_mode`` table and every later
    encode (add_vectors, compact heal, rebuild) dispatches through it.

    ``pq_bits`` (r15, with pq=True): bits per subspace code — 4 (the
    default: PQ_K=16 codewords, nibble-packed, 32 used bits/vector) or
    8 (256 codewords, byte-packed, the full 64-bit long). Measured
    reason (BASELINE.md r14/r15): at ~500 candidates/cell BOTH 4-bit
    modes' codes stop ranking within the cell — 8-bit codes are the
    escape hatch at that density; the marker, pack/rank-table/LUT, and
    every lifecycle encode thread the persisted width.

    ``train_max_per_cell`` (r15 — the bounded-sample trainer): run the
    Lloyd iterations (coarse AND, under by_residual, the residual
    codebook) over the first ``train_max_per_cell * n_cells`` vectors
    in seeded-hash order instead of the full catalog — the standard
    coarse-quantizer training bound (FAISS trains on a capped sample;
    256/cell is its convention). Measured reason (BASELINE.md r15
    "Persisted serving lane across two decades"): training passes are
    the n^1.5 term that dominates the build by x100 catalog (447 s at 200k vectors), while
    the one full-catalog assignment pass the index REQUIRES is a
    single n*n_cells map — sampling the trainer bounds the avoidable
    part. Training-time only: nothing about the persisted layout,
    lifecycle encodes, or search changes; quality holds where cells
    are genuinely clustered (recall pinned on the clustered corpus)
    because Lloyd needs density, not every point. None (default) =
    train on everything — byte-identical to the pre-r15 path.

    ``two_level`` (r15 — the other half of the build-at-scale story):
    route BOTH the Lloyd training passes AND the final full-catalog
    assignment through the centroid-of-centroids prune
    (:func:`kmeans_assign_two_level`'s machinery) — ~2n*sqrt(k)
    cosines instead of n*k, the term `train_max_per_cell` cannot
    remove because the index requires every vector assigned once.
    Approximation contract (same as the r11 assignment prune):
    ``n_super=1`` degenerates to the flat build BITWISE (one super
    cell holds every centroid — pinned); at real ``n_super`` a vector
    can land in a different cell than flat argmax, which moves
    RECALL, never correctness — cells remain a partition of the
    catalog, so the covering probe stays exact (pinned against an
    independent brute). The hierarchy persists, and every later
    assignment follows it (:func:`index_mode`)."""
    # ADVICE r14: silent-ignore is the wrong contract for PQ options
    # on a pq=False build
    if not pq:
        if by_residual:
            raise ValueError(
                "build_ivf_index(by_residual=True) requires pq=True — "
                "by-residual is a property of the PQ codes replica"
            )
        if pq_bits != 4:
            raise ValueError(
                "build_ivf_index(pq_bits=...) requires pq=True — "
                "pq_bits is a property of the PQ codes replica"
            )
    if pq_bits not in (4, 8):
        raise ValueError(f"pq_bits must be 4 or 8, got {pq_bits}")
    if train_max_per_cell is not None and train_max_per_cell < 1:
        raise ValueError(
            f"train_max_per_cell must be >= 1 when set, got {train_max_per_cell}"
        )
    # same silent-ignore contract as the PQ options (ADVICE r14)
    if n_super is not None and not two_level:
        raise ValueError(
            "build_ivf_index(n_super=...) requires two_level=True — "
            "n_super sizes the super-quantizer of the two-level prune"
        )
    train_cap = None if train_max_per_cell is None else train_max_per_cell * n_cells
    # the build's writes consume every checkpoint it pins, so its
    # scratch scope frees them all at the end
    with pinned(spark):
        v = _normed(emb.select("vec_id", "embedding"), "embedding", "ne")
        cent = _train_centroids(
            v, n_cells, iters, seed, two_level=two_level, n_super=n_super, train_cap=train_cap
        )
        cent.write.mode("overwrite").parquet(f"{index_dir}/centroids")
        if two_level:
            sup_local, children = _two_level_tables(spark, cent, n_super, iters, seed)
            # the quantizer hierarchy PERSISTS (r15): assignment must be a
            # deterministic function of persisted state for add_vectors'
            # replay-idempotency contract (a replayed id must land in the
            # cell it is already in) — the derived super tables' Lloyd is
            # float-fold-order dependent across runs, so deriving them per
            # append could re-place a replayed id and silently duplicate
            # it. Same design as pq_mode: persist the mode, dispatch every
            # later assignment through it.
            children.write.mode("overwrite").parquet(f"{index_dir}/assign_children")
            sup_local.write.mode("overwrite").parquet(f"{index_dir}/assign_super")
            final_assign = _ivf2_assign(v, (sup_local, children))
        else:
            # a flat (re)build over a previously two-level dir must clear
            # the stale hierarchy, or mode detection would keep dispatching
            # appends through a quantizer the cells no longer follow
            from ..sources.fsutil import delete_path

            for tbl in ("assign_children", "assign_super"):
                delete_path(spark, f"{index_dir}/{tbl}")
            final_assign = _nearest_centroids(v, cent)
        assigned = scoped_checkpoint(final_assign.select("vec_id", "embedding", "ne", "cid"))
        assigned.write.mode("overwrite").partitionBy("cid").parquet(f"{index_dir}/cells")
        if pq:
            # ADVICE r14: the mode marker lands BEFORE the codebook it
            # describes — a crash between the two writes must never leave
            # a residual-trained codebook that reads as plain (a later
            # gap-heal would append mixed-mode codes); a marker with no
            # codebook is inert (every PQ consumer keys on pq_codebook's
            # existence first)
            _write_pq_mode(spark, index_dir, by_residual, pq_bits)
            n_codes = 1 << pq_bits
            cb = (
                _pq_train_residual_codebook(
                    assigned, cent, seed, n_codes=n_codes, train_cap=train_cap
                )
                if by_residual
                else _pq_train_codebook(v, seed, n_codes=n_codes)
            )
            cb.write.mode("overwrite").parquet(f"{index_dir}/pq_codebook")
            mode = IndexMode(True, by_residual, pq_bits, two_level)
            _packed_codes(spark, index_dir, assigned, mode).write.mode(
                "overwrite"
            ).partitionBy("cid").parquet(f"{index_dir}/pq_codes")


def ivf_search(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    exclude_self: bool = True,
    two_level: bool = False,
    n_super_probe: int = 1,
    adc: bool = False,
    shortlist: int = 32,
    shortlist_per_probe: bool = False,
) -> DataFrame:
    """Top-k cosine neighbors per query from the persisted index.

    ``queries``: (query_id, qv array<float|double>). The probed cid set
    is <= n_cells regardless of query count, so it is collected and
    pushed as a LITERAL `cid IN (...)` filter — static partition
    pruning on the cells scan (no dynamic-pruning dependency, visible
    as PartitionFilters in the plan, pinned by tests). Returns
    (query_id, neighbor_id, cos_sim, rk <= k).

    ``exclude_self`` (default True) drops catalog vectors whose vec_id
    equals the query's query_id — correct ONLY when queries and the
    catalog share one id space (the "find my neighbors in the corpus"
    shape). Pass False when query ids are an unrelated space (ADVICE
    r7: a coincidentally equal-id catalog item must not be silently
    excluded from top-k there).

    ``two_level`` (r11): route the QUERY-side cell probe through the
    centroid-of-centroids prune — query assignment is q*k FLOPs flat,
    the same regime the assignment prune targets once k >> sqrt(n)
    and queries arrive in bulk. The probed cells are the n_probe best
    among the n_super_probe best super cells' children; covering
    every super cell (n_super_probe >= n_super) recovers the flat
    probe EXACTLY (pinned).

    ``adc=True`` (r12 — requires a ``pq=True`` build): rank the probed
    cells' candidates by the ADC score over the persisted 4-byte PQ
    codes — the scan side reads the ``pq_codes`` replica ONLY (same
    cid partition pruning), the raw cells table is touched just for
    the top-``shortlist`` exact-cosine refine per query. Identical
    output contract. ``shortlist`` covering the whole probed candidate
    set recovers the exact probe result EXACTLY (the refine re-ranks
    everything by true cosine — pinned); smaller shortlists trade the
    raw-vector reads for ADC-approximation risk at ranks the refine
    cannot repair. A ``by_residual=True`` index is detected
    automatically (the persisted ``pq_mode`` marker): the ADC score
    gains the per-(query, probed-cell) centroid-dot base term and the
    LUT runs over the residual codebook — same packed scan, no caller
    change (r14; recall receipts in BASELINE.md).

    Measured honesty (BASELINE.md r12): at a 20k-vector catalog the
    ADC probe's WALL is slower than exact (5.6 vs 3.9 s) — its LUT
    build and extra joins are pure stage overhead while the exact scan
    is nowhere near data-bound. The trade pays in the memory/IO-bound
    regime the codes replica exists for (1e9+ vectors, 10.3x smaller
    on disk as array<long>; packing 4-bit codes into a binary column
    recovers the remaining 16x if a deployment needs it).

    OPERATING-POINT GUIDE (r15, VERDICT r14 #4 — every number is a
    committed receipt, BASELINE.md r14/r15 "ANN recall@10" sections).
    Diagnose by comparing three recalls at your geometry: covering
    (n_probe=n_cells, the brute ceiling), exact at your n_probe, and
    ADC at your (n_probe, shortlist).

    1. PROBE LOSS — exact-at-n_probe < covering: true neighbors sit in
       unprobed cells (clustered data scatters a cluster across
       sub-cells). Knob: ``n_probe``. Exact recall is provably
       non-decreasing in it (superset candidates; pinned) — measured
       recovery 0.47 (p1) -> 0.76 (p2) -> 1.0 (p4) on the
       over-segmented clustered pin.
    2. ADC RANKING LOSS — adc < exact at the same n_probe: the
       quantized shortlist truncates true neighbors the refine never
       sees. Knob: ``shortlist``. Monotone (pinned); measured: s=32
       fully repaired it on the uniform fixtures (adc == exact_p1).
    3. WITHIN-CELL CODE DISTORTION — a generous shortlist still lags
       exact on clustered data: plain-PQ codes carry mostly the
       cluster identity. Knobs in order: ``by_residual=True`` at build
       (s10 0.28 vs 0.15, s24 0.53 vs 0.36 — the r14 controlled pin),
       then ``pq_bits=8`` where residual codes already rank (s24 0.62
       vs 0.53, s32 0.78 vs 0.73 — r15). HARD BOUND: at ~500
       near-equidistant candidates/cell NEITHER width ranks (inter-rank
       cosine gaps fall below even the 256-codeword distortion floor —
       r15 density receipt); there the fix is FINER CELLS (restore a
       rankable per-cell density) + n_probe to recover the scatter,
       i.e. move the problem back to regime 1, which has an exact
       lever — measured escape: rebuild n_cells 8 -> 64 on the floor
       corpus takes ADC 0.059 -> 1.00 at p16 with per-probe windows,
       exact 0.99 by p8 (r15 finer-cells receipt).
    Diagnose with :func:`index_stats` — its ``density_regime`` names
    the live regime from these same receipts without eyeballing cell
    sizes; :func:`rebuild_index` executes the finer-cells escape
    (end-to-end pin: test_density_floor_escape_loop_end_to_end).
    Interaction: ADC recall is NOT monotone in n_probe (extra probed
    candidates can displace shortlist slots on quantized scores —
    measured dip 0.75 -> 0.70 at p2 -> p4, s=32); when raising
    n_probe under ADC, raise shortlist with it — or pass
    ``shortlist_per_probe=True`` (below), which does exactly that.

    ``shortlist_per_probe=True`` (r15) makes that rule the contract
    instead of caller discipline: the ADC refine window becomes
    ``shortlist * n_probe`` — ``shortlist`` reads as a PER-PROBED-CELL
    budget, so adding probes adds window instead of diluting it. Not
    provably monotone (a newly probed cell may still displace kept
    candidates on quantized scores), but measured monotone where the
    fixed-window dip was measured (BASELINE.md r15), and the scan cost
    of the extra window is refine-side only (shortlist * n_probe raw
    rows per query, not a larger codes scan).
    """
    mode = index_mode(spark, index_dir)
    cent = spark.read.parquet(f"{index_dir}/centroids")
    q = _normed(
        queries.select(F.col("query_id").alias("vec_id"), F.col("qv").alias("embedding")),
        "embedding",
        "ne",
    )
    if two_level:
        # a two-level-BUILT index persists its hierarchy (r15) — use it
        # (consistent with the cells' own assignment, and free); derive
        # from the centroids only on a flat-built index, the pre-r15
        # behavior
        geo = (
            _load_assign_tables(spark, index_dir)
            if mode.two_level
            else _two_level_tables(spark, cent, None, 2, IVF_SEED)
        )
        probes = _ivf2_assign(q, geo, n_super_probe=n_super_probe, keep_top=n_probe)
    else:
        probes = _nearest_centroids(q, cent, n_probe)
    probes = probes.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("ne").alias("nq"),
        "cid",
    )
    # the probed_cids collect below would otherwise trigger the full
    # broadcast-cosine assignment a SECOND time when the scored join
    # recomputes the same uncached plan (ADVICE r7) — pin it once. The
    # result plan depends on this checkpoint, so its owner is the
    # caller's scratch scope or the tracker, never this function.
    probes = scoped_checkpoint(probes)
    probed_cids = _touched_cids(probes)
    cells = _touched_cells(spark, index_dir, probed_cids)
    if adc:
        from .similarity import PQ_M, pq_lut

        # ADVICE r12: a clear contract error beats the opaque
        # parquet-path failure on a pq=False build
        if not mode.pq:
            raise ValueError(
                "ivf_search(adc=True) requires a pq=True index — "
                f"{index_dir}/pq_codebook is absent; rebuild with "
                "build_ivf_index(..., pq=True)"
            )
        # r15: per-probe window scaling — the committed interaction rule
        # (fixed windows dilute as probes add candidates) as a contract
        if shortlist_per_probe:
            shortlist = shortlist * max(1, n_probe)
        # ADVICE r12: shortlist < k would silently return < k rows per
        # query — the refine can only re-rank what the shortlist kept
        shortlist = max(shortlist, k)
        cbq = spark.read.parquet(f"{index_dir}/pq_codebook")
        codes = _touched_cells(spark, index_dir, probed_cids, "pq_codes")
        # rank-keyed LUT (r13): lmap keys are rank*PQ_M + m, so the ADC
        # sum reads each 4-bit rank straight out of the packed BIGINT —
        # the scan side never materializes the codes array. Duplicate
        # query ids would produce duplicate LUT map keys
        # (map_from_entries is strict) — one LUT per id is also the
        # only coherent reading of a duplicated query.
        rlut = pq_lut(q.dropDuplicates(["vec_id"]), cbq).join(
            _pq_rank_table(cbq).withColumnRenamed("aid", "code"),
            ["m", "code"],
        )
        lutmap = rlut.groupBy("query_id").agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        (F.col("rank") * PQ_M + F.col("m")).cast("long").alias("k"),
                        F.col("lmic").alias("v"),
                    )
                )
            ).alias("lmap")
        )
        cand = probes.select("query_id", "cid").join(codes, "cid")
        if exclude_self:
            cand = cand.where(F.col("vec_id") != F.col("query_id"))
        adc_packed = F.expr(
            f"aggregate(transform(sequence(0, {PQ_M - 1}), mm -> "
            f"element_at(lmap, {_pq_rank_read_expr('packed', mode.bits)}"
            f" * {PQ_M} + mm)), 0L, (a, v) -> a + v)"
        )
        adcs = cand.join(lutmap, "query_id")
        if mode.by_residual:
            # by-residual ADC (r14): score = <q, centroid> + LUT sum —
            # the base term is ONE micro-grid scalar per (query, probed
            # cell), computed off the same broadcast centroid table the
            # probe already used; within a cell it is constant, so the
            # shortlist ranks on the residual LUT (the within-cell
            # signal plain PQ lacked), across cells the base term keeps
            # the scores comparable
            bases = probes.join(F.broadcast(cent), "cid").select(
                "query_id",
                "cid",
                (
                    F.round(
                        _fast_cosine(
                            as_double(F.col("qv")), F.col("cv"),
                            F.col("nq"), F.col("nc"),
                        ),
                        6,
                    ).cast("decimal(18,6)")
                    * 1000000
                )
                .cast("long")
                .alias("base_mic"),
            )
            adcs = adcs.join(bases, ["query_id", "cid"]).select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                (adc_packed + F.col("base_mic")).alias("adc_mic"),
            )
        else:
            adcs = adcs.select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                adc_packed.alias("adc_mic"),
            )
        ws = Window.partitionBy("query_id").orderBy(
            F.col("adc_mic").desc(), F.col("neighbor_id")
        )
        short = (
            # ADVICE r12/r13: duplicate codes rows (crash replay, manual
            # append) must not consume SHORTLIST ranks either — dedupe
            # BEFORE the window, or a duplicated neighbor holds two of
            # the shortlist slots and the max(shortlist, k) clamp can
            # still yield fewer than k distinct candidates per query
            adcs.dropDuplicates(["query_id", "neighbor_id"])
            .withColumn("rn", F.row_number().over(ws))
            .where(F.col("rn") <= shortlist)
            .select("query_id", "neighbor_id")
        )
        qref = probes.select("query_id", "qv", "nq").dropDuplicates(["query_id"])
        return _top_k(
            short.join(qref, "query_id")
            .join(
                cells.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("embedding").alias("nv"),
                    F.col("ne").alias("nn"),
                ),
                "neighbor_id",
            )
            .select(
                "query_id",
                "neighbor_id",
                F.round(
                    _fast_cosine(
                        as_double(F.col("qv")), as_double(F.col("nv")),
                        F.col("nq"), F.col("nn"),
                    ),
                    6,
                ).alias("cos_sim"),
            ),
            k,
        )
    scored = probes.join(cells, "cid")
    if exclude_self:
        scored = scored.where(F.col("vec_id") != F.col("query_id"))
    scored = scored.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            _fast_cosine(
                as_double(F.col("qv")),
                as_double(F.col("embedding")),
                F.col("nq"),
                F.col("ne"),
            ),
            6,
        ).alias("cos_sim"),
    )
    return _top_k(scored, k)


def add_vectors(spark, index_dir: str, emb: DataFrame, preassigned: bool = False) -> None:
    """Incrementally index new vectors WITHOUT re-running Lloyd
    (VERDICT r7 #8 — the serving story: a growing catalog appends, it
    does not rebuild): assign each new vector in the index's PERSISTED
    mode (one broadcast pass through the build's own ranker, via the
    one batch intake :func:`_intake`) and append to the matching cell
    partitions. Centroids are left untouched, so existing cell assignments — and
    therefore every already-served probe result — never change.

    Vectors whose vec_id is already in the index are skipped
    (idempotent re-ingest; same contract as the incremental dedup
    store). The presence probe scans ONLY the incoming batch's cell
    partitions, not the whole index (r9 review: a full-index id scan
    per batch defeats the touched-cells scale story) — valid because
    assignment is deterministic against immutable centroids, so a
    replayed id always lands in the same cell it is already in.
    Zero-norm vectors are excluded as in the build.

    ``preassigned=True`` accepts a frame already carrying (vec_id,
    embedding, ne, cid) from the one batch intake (:func:`_intake` —
    e.g. semantic_dedup's per-batch assignment) and skips the re-norm +
    re-assign pass entirely; the caller vouches for batch-unique
    vec_ids and for the index's persisted assignment mode in that case
    (r15: on a two-level-built index a flat-argmax preassignment can
    place a replayed id in a different cell than the build did,
    defeating the presence probe below).

    Drift: appended vectors join their nearest EXISTING cell, so a
    shifting distribution skews cell sizes instead of moving
    centroids. Monitor with :func:`index_stats` and rebuild
    (:func:`rebuild_index`) when its skew (max_cell/mean_cell) exceeds
    ~4 — past that, probing the hot cell costs more than the rebuild
    amortizes.
    """
    mode = index_mode(spark, index_dir)
    if preassigned:
        v = emb.select("vec_id", "embedding", "ne", "cid")
    else:
        v = _intake(spark, index_dir, emb, mode)
    # pin the assignment once: the touched-cid collect, the cells
    # append, and (on a PQ index) the codes append all consume it
    # (the ivf_search double-compute class)
    with pinned(spark):
        v = scoped_checkpoint(v)
        touched = _touched_cids(v)
        existing = _touched_cells(spark, index_dir, touched).select("vec_id")
        accepted = scoped_checkpoint(
            v.join(existing, "vec_id", "left_anti").select("vec_id", "embedding", "ne", "cid")
        )
        accepted.write.mode("append").partitionBy("cid").parquet(f"{index_dir}/cells")
        # PQ maintenance (r12): a pq=True index keeps its codes replica in
        # lockstep — encode against the PERSISTED codebook (codes never
        # drift from their vectors; the codebook, like the centroids, is
        # only retrained by a rebuild). The encode set is keyed on the
        # CODES replica, not on `accepted` (ADVICE r12): a crash between
        # the cells append and the codes append leaves rows in cells with
        # no codes, and an accepted-keyed append would never repair them —
        # so encode every touched-cell row missing from pq_codes (covers
        # this batch AND any historical gap; encoding is deterministic
        # against the immutable codebook, hence replay-safe).
        if mode.pq:
            have = _touched_cells(spark, index_dir, touched, "pq_codes").select("vec_id")
            need = _touched_cells(spark, index_dir, touched).join(have, "vec_id", "left_anti")
            _packed_codes(spark, index_dir, need, mode).write.mode("append").partitionBy(
                "cid"
            ).parquet(f"{index_dir}/pq_codes")


def compact_index(spark, index_dir: str, target_files_per_cell: int = 1) -> None:
    """Rewrite the cells table coalesced: :func:`add_vectors` appends
    one file per touched cell partition per batch, so a long-lived
    serving index accumulates thousands of small files and the probe
    scan goes metadata-bound — the same streaming-sink pathology
    incremental_dedup.compact_store handles for the signature store.
    Centroids are untouched (tiny, rewritten only by a rebuild).
    Single-writer discipline: run between ingest batches, not
    concurrently with one. The staged swap routes through the Hadoop
    FS API (fsutil — r12, VERDICT r11 #2), so the same call works on
    the hdfs://s3a:// deployment the read probes already target; see
    fsutil.rename_path for the object-store rename-window caveat (a
    reader racing the swap can see the cells table absent — excluded
    here by the single-writer between-batches discipline)."""
    from ..sources.fsutil import swap_in

    mode = index_mode(spark, index_dir)
    # a pq=True index compacts its codes replica the same way — it
    # accretes one small file per touched cell per batch exactly like
    # the cells table (r12)
    for name in ["cells"] + (["pq_codes"] if mode.pq else []):
        path = os.path.join(index_dir, name)
        df = spark.read.parquet(path)
        if name == "pq_codes":
            # replica reconciliation (ADVICE r12): the rewrite is a full
            # scan anyway, so fold in the two drift repairs — (a) rows
            # present in cells but missing from codes (the crash window
            # between add_vectors' two appends) are re-encoded against
            # the persisted codebook; (b) duplicate codes rows for one
            # vec_id (crash replay / manual append) collapse to one, so
            # an ADC shortlist can never rank the same neighbor twice.
            missing = spark.read.parquet(os.path.join(index_dir, "cells")).join(
                df.select("vec_id"), "vec_id", "left_anti"
            )
            healed = _packed_codes(spark, index_dir, missing, mode)
            df = df.dropDuplicates(["vec_id"]).unionByName(healed)
        swap_in(
            spark,
            path,
            df.repartition(target_files_per_cell, "cid").write.mode("overwrite").partitionBy(
                "cid"
            ).parquet,
        )


def rebuild_index(
    spark, index_dir: str, n_cells: int = 16, iters: int = 2, seed: int = IVF_SEED,
    train_max_per_cell: int | None = None,
    two_level: bool | None = None,
    n_super: int | None = None,
) -> dict:
    """The :func:`index_stats` skew rebuild trigger made
    actionable: retrain the coarse quantizer over the CURRENT catalog
    (the cells table holds every indexed vector verbatim) and swap
    both tables in place. Every vector keeps its id — probes after the
    rebuild see the same catalog under fresh geometry, with cell sizes
    re-balanced around the drifted distribution. Staged build: the new
    index lands in a sibling directory first, so the live index stays
    readable until the per-table swap (a crash mid-swap loses at most
    the rebuild, never the catalog). Returns the post-rebuild
    :func:`index_stats`. Single-writer discipline as
    :func:`compact_index`. Per-table swap through the Hadoop FS API
    (fsutil — r12, VERDICT r11 #2): on an object store each rename is
    a copy, so the no-reader window is two renames wide here
    (centroids swaps before cells) — acceptable under the same
    single-writer discipline, and a crash mid-swap still loses at
    most the rebuild."""
    from ..sources.fsutil import delete_path, rename_path

    emb = spark.read.parquet(os.path.join(index_dir, "cells")).select(
        "vec_id", "embedding"
    )
    # a pq=True index rebuilds WITH its PQ side, in its persisted
    # residual mode and width: the rebuild retrains both quantizers over
    # the current catalog (coarse cells AND the PQ codebook — fresh
    # anchors from the same seeded order), so codes stay consistent with
    # the codebook that scores them (r12)
    mode = index_mode(spark, index_dir)
    # two_level=None (default) inherits the persisted assignment mode,
    # like the PQ mode; an explicit bool overrides (r15)
    two_l = mode.two_level if two_level is None else two_level
    tmp = index_dir.rstrip("/") + "_rebuild"
    build_ivf_index(
        spark, emb, tmp, n_cells=n_cells, iters=iters, seed=seed, pq=mode.pq,
        by_residual=mode.by_residual, pq_bits=mode.bits,
        train_max_per_cell=train_max_per_cell, two_level=two_l, n_super=n_super,
    )
    tables = ["centroids", "cells"] + (
        ["pq_codebook", "pq_codes", "pq_mode"] if mode.pq else []
    ) + (["assign_children", "assign_super"] if two_l else [])
    for name in tables:
        old = os.path.join(index_dir, name)
        delete_path(spark, old)
        rename_path(spark, os.path.join(tmp, name), old)
    if not two_l:
        # a flat rebuild of a previously two-level index sheds the
        # stale hierarchy (the swap list above never visits it)
        for name in ("assign_children", "assign_super"):
            delete_path(spark, os.path.join(index_dir, name))
    delete_path(spark, tmp)
    return index_stats(spark, index_dir)


# per-cell candidate-density thresholds, from the committed recall
# receipts (BASELINE.md r14/r15): at ~500 near-equidistant
# candidates/cell NEITHER 4- nor 8-bit ADC codes rank (d4_s32=0.059 on
# the density pin — the r15 receipt that corrected the r14 narrative);
# the controlled pins where codes DO rank all sit well under ~200/cell
# (sqrt(n) geometry). Between the two, codes still rank but the
# shortlist has to carry more of the work — plan the finer-cells
# rebuild before the floor, not at it.
DENSITY_CAUTION = 200
DENSITY_FLOOR = 500


def index_stats(spark, index_dir: str) -> dict:
    """Operating-point probe for a persisted index (r15): the numbers
    the :func:`ivf_search` guide's knob choices key on, in one bounded
    pass — because at catalog scale nobody can eyeball per-cell
    density, and density is what decides WHICH knob works.

    Cell-size balance stats (n_cells, total, max_cell, mean_cell and
    skew = max_cell / mean_cell — the :func:`add_vectors` drift
    trigger: rebuild at skew > ~4), per-cell candidate DENSITY
    quantiles (exact percentiles over the <= n_cells-row count table)
    and the persisted :func:`index_mode`, then names the regime from
    the committed receipts:

    - ``density_regime='rankable'`` (p50 < DENSITY_CAUTION): ADC codes
      rank within cells — ``shortlist`` / ``by_residual`` /
      ``pq_bits`` are live levers (guide items 2-3).
    - ``'caution'`` (DENSITY_CAUTION <= p50 < DENSITY_FLOOR): codes
      still rank but degrade as cells fill; schedule a finer-cells
      rebuild.
    - ``'density_floor'`` (p50 >= DENSITY_FLOOR): neither code width
      ranks (the r15 density receipt) — :func:`rebuild_index` with
      finer cells, then recover the scatter with ``n_probe`` (+
      ``shortlist_per_probe=True`` under ADC): the measured lever
      (the r15 finer-cells receipt).

    Cost: one count-by-partition-column aggregation (cid is the
    partition key), exact percentiles over the <= n_cells-row result,
    and the 1-row ``pq_mode`` read — bounded at any corpus size."""
    mode = index_mode(spark, index_dir)
    row = (
        spark.read.parquet(f"{index_dir}/cells")
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n").alias("total"),
            F.max("n").alias("max_cell"),
            F.avg("n").alias("mean_cell"),
            F.expr("percentile(n, 0.5)").alias("p50_cell"),
            F.expr("percentile(n, 0.9)").alias("p90_cell"),
        )
        .collect()[0]
    )
    p50 = row["p50_cell"] or 0.0
    regime = (
        "density_floor"
        if p50 >= DENSITY_FLOOR
        else ("caution" if p50 >= DENSITY_CAUTION else "rankable")
    )
    return {
        "n_cells": row["n_cells"],
        "total": row["total"],
        "max_cell": row["max_cell"],
        "mean_cell": row["mean_cell"],
        "skew": row["max_cell"] / row["mean_cell"] if row["mean_cell"] else 0.0,
        "p50_cell": p50,
        "p90_cell": row["p90_cell"] or 0.0,
        "pq": mode.pq,
        "by_residual": mode.by_residual,
        "pq_bits": mode.bits if mode.pq else None,
        "assign_mode": "two_level" if mode.two_level else "flat",
        "density_regime": regime,
    }
