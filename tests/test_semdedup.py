"""SemDeDup (r9, operators/similarity.py): semantic dedup over the
embedding space — IVF-cell-blocked candidate pairs plus the paper's
keep-least-central prune rule (Abbas et al. 2023). Pins (1) threshold
margins so the oracle check actually discriminates, (2) the prune
decision against a driver-side union-find + argmin reference, (3) the
keep-rule invariants, (4) the scale shape (cell equi-join, bounded
centroid broadcast only)."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_parameter_server_spark.functions.planes import SEMANTIC_T, counted_stride
from flink_parameter_server_spark.operators.similarity import (
    embedding_semantic_pairs,
    embeddings_normed,
    ivf_assign,
    semdedup_prune,
)
from tests.conftest import SF_SMALL

SF_MED = SF_SMALL.replace("0.001", "0.01")


def _in_cell_cosines(spark, sf_dir):
    """All same-cell pair cosines (unthresholded), driver-side."""
    from flink_parameter_server_spark.functions.vectors import as_double, cosine

    assign = ivf_assign(embeddings_normed(spark, sf_dir))
    a = assign.select(F.col("vec_id").alias("va"), F.col("embedding").alias("ea"), "cid")
    b = assign.select(F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"), "cid")
    return (
        a.join(b, "cid")
        .where(F.col("va") < F.col("vb"))
        .select(cosine(as_double(F.col("ea")), as_double(F.col("eb"))).alias("cos"))
    )


def test_semantic_threshold_margins_discriminate(spark):
    """SEMANTIC_T must sit in a real gap of the in-cell cosine
    distribution at BOTH fixture scales the driver exercises — otherwise
    a 1-ulp cosine difference between engines could flip a pair."""
    for sf in (SF_SMALL, SF_MED):
        cos = _in_cell_cosines(spark, sf)
        below = cos.where(F.col("cos") < SEMANTIC_T).agg(F.max("cos")).first()[0]
        above = cos.where(F.col("cos") >= SEMANTIC_T).agg(F.min("cos")).first()[0]
        assert above is not None, f"{sf}: no pair above SEMANTIC_T — method untested"
        assert SEMANTIC_T - below > 1e-3, f"{sf}: excluded margin {SEMANTIC_T - below}"
        assert above - SEMANTIC_T > 1e-3, f"{sf}: included margin {above - SEMANTIC_T}"


def test_semantic_pairs_same_cell_and_thresholded(spark):
    assign = {
        r.vec_id: r.cid for r in ivf_assign(embeddings_normed(spark, SF_MED)).collect()
    }
    pairs = embedding_semantic_pairs(spark, SF_MED).collect()
    assert pairs, "fixture must produce at least one semantic pair"
    for r in pairs:
        assert assign[r.vec_a] == assign[r.vec_b]
        assert r.cos_sim >= SEMANTIC_T
        assert r.vec_a < r.vec_b


def test_semdedup_prune_matches_driver_reference(spark):
    """keep decision == union-find over the pair graph + keep the
    component member LEAST similar to its cell centroid (tie: lowest
    vec_id) — the SemDeDup rule, recomputed independently driver-side."""
    assign = ivf_assign(embeddings_normed(spark, SF_MED), keep_centroid_cos=True)
    rows = assign.select("vec_id", "cos_c").collect()
    cos_c = {r.vec_id: r.cos_c for r in rows}
    parent = {v: v for v in cos_c}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in embedding_semantic_pairs(spark, SF_MED).collect():
        ra, rb = find(r.vec_a), find(r.vec_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    comps: dict[int, list[int]] = {}
    for v in cos_c:
        comps.setdefault(find(v), []).append(v)
    want_keep = set()
    for members in comps.values():
        # the keep rule ranks on the 6dp-ROUNDED centroid cosine (the
        # dedup_cluster_canonical space='semantic' oracle contract)
        want_keep.add(min(members, key=lambda v: (round(cos_c[v], 6), v)))

    got = semdedup_prune(spark, SF_MED).collect()
    got_keep = {r.vec_id for r in got if r.keep == 1}
    assert got_keep == want_keep
    # component labels group identically (same partition of vec_ids)
    got_comps: dict[int, set[int]] = {}
    for r in got:
        got_comps.setdefault(r.component, set()).add(r.vec_id)
    assert sorted(map(sorted, got_comps.values())) == sorted(
        sorted(m) for m in comps.values()
    )


def test_semdedup_prune_invariants(spark):
    pr = semdedup_prune(spark, SF_MED)
    n = pr.count()
    assert n == embeddings_normed(spark, SF_MED).count()
    per_comp = pr.groupBy("component").agg(
        F.sum("keep").alias("k"), F.count(F.lit(1)).alias("c")
    )
    # exactly one keeper per component; singletons keep themselves
    assert per_comp.where(F.col("k") != 1).count() == 0
    dropped = pr.where(F.col("keep") == 0).count()
    assert dropped == n - per_comp.count()
    assert dropped == embedding_semantic_pairs(spark, SF_MED).select(
        F.explode(F.array("vec_a", "vec_b")).alias("v")
    ).distinct().count() - per_comp.where(F.col("c") > 1).count()


def test_semantic_pairs_plan_is_cell_equijoin(spark):
    """Scale shape: candidates come from an equi-join on cid (shuffle or
    broadcast HASH join — never nested-loop over pairs); the only
    nested-loop joins are the bounded centroid-table broadcast of the
    (now scratch-persisted, single) assignment — printed once per
    InMemoryTableScan side — and no CartesianProduct anywhere. Cache is
    cleared first: a pre-existing cached assignment from another test
    changes how many times the relation's child plan is PRINTED (not
    executed), which is what the count below inspects."""
    from flink_parameter_server_spark.scratch import release

    release()
    spark.catalog.clearCache()
    plan = (
        embedding_semantic_pairs(spark, SF_MED)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    # per cached-scan side: the ~sqrt(n)-row centroid broadcast + the
    # 1-row count aggregate that derives it (r11 counted-n rule)
    assert plan.count("BroadcastNestedLoopJoin") <= 4
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan)
    # the self-join's two sides must read the SAME cached assignment —
    # the r9 review's recompute fix
    assert plan.count("InMemoryTableScan") == 2


def test_semantic_cell_profile_flags_clustered_corpus(spark):
    """r11: semantic_cell_profile is the deployment's geometry picker.
    The counted rule's centroids are a density-PROPORTIONAL sample of
    the data (vec_id order is independent of the embedding), so smooth
    clusters self-balance — the genuine pathology is EXACT-duplicate
    mass (boilerplate before dedup): identical vectors tie to the one
    lowest-cid centroid of their direction no matter how many centroids
    that direction holds — and skew (max/mean over NON-EMPTY cells)
    understates it because the other cells empty out; max_share is the
    deployment flag. Pins: (1) on a 90%-exact-duplicate synthetic
    max_share exceeds the documented ~0.1 switch threshold and
    pair_bound shows the quadratic |cluster|^2/2 term; (2) on the
    near-uniform fixture max_share stays small; (3) the arithmetic
    (total/max/pair_bound) is exact vs a driver-side recount."""
    import numpy as np

    from flink_parameter_server_spark.operators.similarity import (
        semantic_cell_profile,
    )

    rng = np.random.RandomState(3)
    rows = []
    hub = np.zeros(8)
    hub[0] = 1.0
    for i in range(180):  # exact-duplicate mass: 90% of the corpus
        rows.append((i, [float(x) for x in hub]))
    for i in range(180, 200):  # sparse tail, spread directions
        v = 0.02 * rng.randn(8)
        v[1 + (i % 7)] = 1.0
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    from flink_parameter_server_spark.operators.ann_index import _normed

    assign = ivf_assign(_normed(emb, "embedding", "ne"))
    prof = semantic_cell_profile(assign)
    assert prof["total"] == 200 and prof["max_share"] > 0.5, prof
    assert prof["pair_bound"] >= 180 * 180 // 2  # the quadratic term is visible

    # driver recount exactness
    cells: dict[int, int] = {}
    for r in assign.select("cid").collect():
        cells[r["cid"]] = cells.get(r["cid"], 0) + 1
    assert prof["n_cells"] == len(cells)
    assert prof["max_cell"] == max(cells.values())
    assert prof["pair_bound"] == sum(c * c for c in cells.values()) // 2

    fix = semantic_cell_profile(ivf_assign(embeddings_normed(spark, SF_MED)))
    assert fix["max_share"] < 0.1, fix


def test_counted_stride_arithmetic_matches_duckdb_exactly(spark):
    """r11: the counted-stride rule's three arithmetic twins (Python
    counted_stride, the Spark column expression, DuckDB's SQL) must
    agree EXACTLY — the IEEE sqrt/floor/ceil-on-doubles claim the rule
    rests on, pinned directly over a wide n sweep including perfect
    squares, off-by-one neighbors, and large values."""
    import duckdb

    from flink_parameter_server_spark.functions.planes import counted_stride_col

    ns = (
        list(range(1, 200))
        + [k * k for k in range(2, 60)]
        + [k * k - 1 for k in range(2, 60)]
        + [k * k + 1 for k in range(2, 60)]
        + [10**6, 10**6 + 7, 10**9, 10**9 + 123, 10**12 + 3]
    )
    con = duckdb.connect()
    sql = (
        "SELECT greatest(1, CAST(ceil(CAST(n AS DOUBLE) "
        "/ greatest(1.0, floor(sqrt(CAST(n AS DOUBLE))))) AS BIGINT)) "
        "FROM (SELECT ? AS n)"
    )
    duck = {n: con.execute(sql, [n]).fetchone()[0] for n in ns}
    py = {n: counted_stride(n) for n in ns}
    assert py == duck
    sdf = spark.createDataFrame([(n,) for n in ns], "n bigint").select(
        "n", counted_stride_col(F.col("n")).alias("s")
    )
    sp = {r["n"]: r["s"] for r in sdf.collect()}
    assert sp == duck


def test_counted_centroid_rule_bounded_at_sqrt_n(spark):
    """r11: the counted-n rule's centroid table is ~sqrt(n) rows — the
    bound the plan-sweep whitelist now cites (vs the retired stride
    rule's n/64 rows, which grew linearly). The assignment's distinct
    cid set must equal the rule's centroid ids, recomputed
    driver-side from the same counted stride."""
    import math

    n = embeddings_normed(spark, SF_MED).count()
    stride = counted_stride(n)
    want_cids = {
        r.vec_id
        for r in embeddings_normed(spark, SF_MED)
        .where(F.col("vec_id") % stride == 0)
        .collect()
    }
    assert len(want_cids) <= math.floor(math.sqrt(n)) + 1
    got_cids = {
        r.cid
        for r in ivf_assign(embeddings_normed(spark, SF_MED))
        .select("cid")
        .distinct()
        .collect()
    }
    assert got_cids <= want_cids and got_cids


def test_fused_cc_matches_standalone_runs(spark):
    """r15: dedup_cluster_canonical fuses the text (minhash) and
    semantic (IVF-cell) CC runs into ONE star-CC over disjoint encoded
    id spaces (2*id / 2*id+1). Pin the equivalence on both scales: the
    'text' half must equal a standalone star-CC over the minhash pair
    graph, and the 'semantic' half a standalone semdedup_prune."""
    from flink_parameter_server_spark.operators._dedup_core import (
        star_connected_components,
    )
    from flink_parameter_server_spark.operators._util import t
    from flink_parameter_server_spark.operators.dedup import (
        dedup_cluster_canonical,
        dedup_minhash_lsh,
    )
    from flink_parameter_server_spark.operators.similarity import semdedup_prune
    from flink_parameter_server_spark.scratch import release

    for sf in (SF_SMALL, SF_MED):
        release()
        fused = dedup_cluster_canonical(spark, sf)
        got_text = {
            (r["doc_id"], r["cluster"], r["is_canonical"])
            for r in fused.where("space = 'text'").collect()
        }
        got_sem = {
            (r["doc_id"], r["cluster"], r["is_canonical"])
            for r in fused.where("space = 'semantic'").collect()
        }

        release()
        pairs = dedup_minhash_lsh(spark, sf).select(
            F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
        )
        parents, _ = star_connected_components(pairs)
        roots = {r["a"]: r["b"] for r in parents.collect()}
        want_text = set()
        for r in t(spark, sf, "documents").select("doc_id").collect():
            root = roots.get(r["doc_id"], r["doc_id"])
            want_text.add((r["doc_id"], root, int(root == r["doc_id"])))
        assert got_text == want_text

        release()
        want_sem = {
            (r["vec_id"], r["component"], r["keep"])
            for r in semdedup_prune(spark, sf).collect()
        }
        assert got_sem == want_sem


def test_ann_topk_lanes_match_standalone_functions(spark):
    """Every cell-probing lane of the consolidated ANN entry equals its
    standalone lane function (the sweepable tool surface) at the
    registered parameters, row for row."""
    from flink_parameter_server_spark.operators import similarity as sim
    from flink_parameter_server_spark.plans import REGISTRY
    from flink_parameter_server_spark.scratch import release

    standalone = {
        "ivf": lambda: sim.embedding_ivf_ann(spark, SF_SMALL),
        "ivf2": lambda: sim.embedding_ivf2_ann(spark, SF_SMALL),
        f"ivf2_p{sim.IVF2_PROBES}": lambda: sim.embedding_ivf2_ann(
            spark, SF_SMALL, probes=sim.IVF2_PROBES
        ),
        "ivfpq": lambda: sim.embedding_ivfpq_ann(spark, SF_SMALL),
        "ivfpq_res": lambda: sim.embedding_ivfpq_res_ann(spark, SF_SMALL),
    }
    got = {}
    for r in REGISTRY["embedding_ann_topk"].fn(spark, SF_SMALL).collect():
        got.setdefault(r["method"], set()).add(tuple(r)[1:])
    for method, lane in standalone.items():
        release()
        want = {tuple(r) for r in lane().collect()}
        assert want and got[method] == want, method


def test_near_dup_arrays_matches_standalone_frames(spark):
    """r16: the shared array relation's column-pruned projections must
    equal the standalone per-lane frames row-for-row (the four text
    lanes of dedup_near_dup_pairs read the relation instead of their
    own scratch builds)."""
    from flink_parameter_server_spark.operators.dedup import (
        NGRAM_BAND,
        near_dup_arrays,
        ngram_grams_frame,
        token_hash_arrays,
    )
    from flink_parameter_server_spark.operators._dedup_core import (
        shingle_sets,
        span_array,
    )
    from flink_parameter_server_spark.scratch import release, scratch

    release()
    sf = SF_SMALL
    rel = near_dup_arrays(spark, sf)
    tha = token_hash_arrays(spark, sf)

    got_sh = {
        (r["doc_id"], tuple(r["shingles"]))
        for r in rel.select("doc_id", "shingles").where(F.size("shingles") > 0).collect()
    }
    want_sh = {
        (r["doc_id"], tuple(r["shingles"]))
        for r in shingle_sets(tha.select("doc_id", "th")).collect()
    }
    assert got_sh == want_sh and want_sh

    got_g = {
        (r["doc_id"], r["source"], r["n_chars"], r["band"], tuple(r["grams"]))
        for r in rel.select(
            "doc_id", "source", "n_chars",
            F.expr(f"n_chars div {NGRAM_BAND}").alias("band"), "grams",
        ).where(F.size("grams") > 0).collect()
    }
    want_g = {
        (r["doc_id"], r["source"], r["n_chars"], r["band"], tuple(r["grams"]))
        for r in ngram_grams_frame(tha).collect()
    }
    assert got_g == want_g and want_g

    got_sp = {
        (r["doc_id"], tuple(r["spans"]))
        for r in rel.select("doc_id", "spans").where(F.size("spans") > 0).collect()
    }
    want_sp = {
        (r["doc_id"], tuple(r["spans"]))
        for r in tha.select("doc_id", span_array().alias("spans"))
        .where(F.size("spans") > 0)
        .collect()
    }
    assert got_sp == want_sp and want_sp
    release()
