"""Round-2 operator tests: plan shapes and semantic properties for the
reshaping / retrieval / clustering / ML-prep additions.

Plan assertions follow test_plans.py's contract (broadcasts present,
no cartesians, expected exchange counts); property tests check the
invariants the oracle can't see (cluster validity, split proportions,
quantization round-trip error bound)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from flink_parameter_server_spark.plans import REGISTRY
from tests.conftest import SF_SMALL


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_SMALL)
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# plan shapes
# ---------------------------------------------------------------------------

def test_unpivot_is_map_only_expand(spark):
    # the unpivot branch of pivot_unpivot, isolated: must lower to a
    # map-only Expand (no shuffle, one scan vs the oracle's four)
    from flink_parameter_server_spark.operators._util import t

    li = t(spark, SF_SMALL, "lineitem").where(F.col("l_orderkey") % 50 == 0)
    df = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan  # unpivot lowers to Expand, not a 4-way union
    assert "Exchange" not in plan  # no shuffle for a melt
    assert plan.count("Scan parquet") == 1  # one scan, vs oracle's four


def test_pivot_unpivot_scans_each_table_once(spark):
    plan = _plan(spark, "pivot_unpivot")
    # explicit pivot value list => no extra distinct-scan of orders, and
    # the unpivot branch reads lineitem exactly once (Expand, not union)
    assert plan.count("Scan parquet") == 2  # orders + lineitem
    assert "HashAggregate" in plan and "Expand" in plan


def test_gap_fill_grid_broadcasts(spark):
    # gap fill now lives inside events_multires_rollup (grain='hour_filled')
    plan = _plan(spark, "events_multires_rollup")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_retrieval_broadcasts_stats_no_cartesian(spark):
    plan = _plan(spark, "text_retrieval")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_bm25_filters_terms_before_aggregation(spark):
    # the query-term filter must sit below the first aggregate so the
    # (doc, term) shuffle carries |query| terms per doc, not the vocab
    plan = _plan(spark, "text_retrieval")
    agg_pos = plan.find("HashAggregate")
    assert agg_pos > 0
    assert "tok" in plan  # term filter visible in the plan at all


def test_token_hashes_run_on_distinct_vocab(spark):
    # token_hash_arrays hashes the vocab dimension then broadcast-joins
    # back, so the interpreted char fold never runs per occurrence; the
    # shingle/gram stages derive map-only from it (r3: one shared build
    # for minhash+simhash+ngram)
    from flink_parameter_server_spark.operators.dedup import token_hash_arrays

    df = token_hash_arrays(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# semantic properties
# ---------------------------------------------------------------------------

def test_cluster_labels_consistent_across_edges(spark):
    pairs = (
        REGISTRY["dedup_near_dup_pairs"]
        .fn(spark, SF_SMALL)
        .where(F.col("method") == "minhash_lsh")
        .select("doc_a", "doc_b")
    )
    labels = REGISTRY["dedup_cluster_canonical"].fn(spark, SF_SMALL).where(
        "space = 'text'"  # the r9 semantic space keeps least-central, not min-id
    )
    a = labels.select(F.col("doc_id").alias("doc_a"), F.col("cluster").alias("ca"))
    b = labels.select(F.col("doc_id").alias("doc_b"), F.col("cluster").alias("cb"))
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    assert joined.where(F.col("ca") != F.col("cb")).count() == 0
    # canonical == min member of its cluster
    mins = labels.groupBy("cluster").agg(F.min("doc_id").alias("mn"))
    assert mins.where(F.col("cluster") != F.col("mn")).count() == 0


def test_star_cc_chain_converges_in_log_rounds(spark):
    """VERDICT r2 task #4: small-star/large-star CC must converge in
    ~log n rounds on a chain graph (plain min-label propagation needs
    diameter rounds — 127 here)."""
    import math

    from flink_parameter_server_spark.operators.dedup import star_connected_components

    n = 128  # chain 0-1-2-...-127: diameter 127, log2 = 7
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    parents, rounds = star_connected_components(edges, max_rounds=14, probe_every=2)
    assert rounds <= 2 * math.ceil(math.log2(n))  # ~log n, not diameter
    got = {r.a: r.b for r in parents.collect()}
    assert all(got[i] == 0 for i in range(1, n))  # one component rooted at 0


def test_star_cc_random_graphs_match_union_find(spark):
    """Property test: star CC must agree with a driver-side union-find on
    seeded random graphs of varied shapes (sparse, dense, multi-component,
    self-contained stars, rings)."""
    import random

    from flink_parameter_server_spark.operators.dedup import star_connected_components

    rng = random.Random(4242)
    for trial in range(6):
        n = rng.randint(5, 60)
        m = rng.randint(1, 2 * n)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue

        # union-find reference
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {v: find(v) for v in set(x for e in edges for x in e)}

        df = spark.createDataFrame(edges, "a long, b long")
        parents, rounds = star_connected_components(df, max_rounds=20, probe_every=2)
        got = {r.a: r.b for r in parents.collect()}
        for v, root in want.items():
            assert got.get(v, v) == root, (trial, v, got.get(v, v), root)


def test_star_cc_raises_on_nonconvergence(spark):
    """ADVICE r2: exceeding the round budget must raise, not silently
    return wrong clusters."""
    import pytest

    from flink_parameter_server_spark.operators.dedup import star_connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        star_connected_components(edges, max_rounds=1, probe_every=1)


def test_stratified_split_proportions_exact(spark):
    rows = REGISTRY["train_test_split"].fn(spark, SF_SMALL).collect()
    per_stratum = Counter()
    per_split = Counter()
    rows = [r for r in rows if r.part == "split_all"]
    for r in rows:
        per_stratum[(r.lang, r.source)] += 1
        per_split[(r.lang, r.source, r.split)] += 1
    for (lang, source), n in per_stratum.items():
        tr = per_split[(lang, source, "train")]
        # ntile(10): train tiles 1..8 -> between floor(0.8n) and ceil(0.8n)+eps
        assert abs(tr - 0.8 * n) <= 8, (lang, source, tr, n)


def test_quantization_roundtrip_error_bounded(spark):
    out = REGISTRY["embedding_quantize"].fn(spark, SF_SMALL).limit(50).collect()
    for r in out:
        q = [int(x) for x in r.q_csv.split(",")]
        assert max(abs(v) for v in q) == 127  # scale anchors the max component
        assert abs(r.norm_check - 1.0) <= 1e-6  # unit vector
        # dequantized vector stays close to unit norm
        scale = r.scale
        dq = [v * scale / 127.0 for v in q]
        norm = sum(x * x for x in dq) ** 0.5
        assert abs(norm - 1.0) < 0.05


def test_multires_rollup_levels_consistent(spark):
    df = REGISTRY["events_multires_rollup"].fn(spark, SF_SMALL)
    per_grain = {
        r.grain: (r.n, round(r.tv, 2) if r.tv is not None else None)
        for r in df.groupBy("grain")
        .agg(F.sum("n").alias("n"), F.sum("total_value").alias("tv"))
        .collect()
    }
    # the zero-filled grid re-counts exactly the hourly events
    assert per_grain["hour_filled"][0] == per_grain["hour"][0]
    # every grain re-aggregates the same event set: counts identical
    assert per_grain["hour"][0] == per_grain["day"][0] == per_grain["month"][0]
    assert abs(per_grain["hour"][1] - per_grain["day"][1]) < 0.05


def test_gap_fill_zero_rows_present(spark):
    df = (
        REGISTRY["events_multires_rollup"]
        .fn(spark, "/root/testdata/sf0.01")
        .where(F.col("grain") == "hour_filled")
    )
    assert df.where(F.col("n") == 0).count() > 0  # fill is exercised
    # grid is dense: |types| x |hours|
    n_types = df.select("event_type").distinct().count()
    n_hours = df.select("bucket").distinct().count()
    assert df.count() == n_types * n_hours


def test_multires_rollup_reuses_persisted_hourly(spark):
    """The continuous-aggregate contract: day/month/gap-fill/span/types
    all derive from the PERSISTED hourly level (r3 moved span + type set
    off the raw table), so at runtime raw events are scanned once — the
    plan shows every downstream consumer reading the InMemoryRelation.
    (A raw string count of FileScan is misleading here: the plan printer
    re-prints the cached relation's child lineage per reference.)"""
    plan = _plan(spark, "events_multires_rollup")
    # hourly is consumed by: hour output, daily, gap-fill join, span,
    # types; daily by: day output, monthly  ->  >= 5 cache reads
    assert plan.count("InMemoryTableScan") >= 5


def test_star_cc_empty_and_trivial_graphs(spark):
    from flink_parameter_server_spark.operators.dedup import star_connected_components

    # empty edge set: converges immediately, no parents
    empty = spark.createDataFrame([], "a long, b long")
    parents, _ = star_connected_components(empty, max_rounds=4, probe_every=1)
    assert parents.count() == 0
    # self-loops only: filtered out, still empty
    loops = spark.createDataFrame([(3, 3), (7, 7)], "a long, b long")
    parents, _ = star_connected_components(loops, max_rounds=4, probe_every=1)
    assert parents.count() == 0
    # one edge: child points to min
    one = spark.createDataFrame([(9, 4)], "a long, b long")
    parents, _ = star_connected_components(one, max_rounds=4, probe_every=1)
    assert {(r.a, r.b) for r in parents.collect()} == {(9, 4)}


def test_ngram_prefix_strategy_same_pairs(spark):
    """The prefix-filter candidate strategy (AllPairs/PPJoin) must be
    LOSSLESS vs the banded default: identical (doc_a, doc_b, score)
    multisets at sf0.001 and sf0.01 (same exact verification, different
    candidate generation — see dedup_ngram_jaccard's docstring for the
    prefix theorem and the measured vocabulary-density trade)."""
    from flink_parameter_server_spark import scratch
    from flink_parameter_server_spark.operators.dedup import dedup_ngram_jaccard

    for sf in (SF_SMALL, SF_SMALL.replace("0.001", "0.01")):
        scratch.release()
        band = {tuple(r) for r in dedup_ngram_jaccard(spark, sf).collect()}
        scratch.release()
        pref = {
            tuple(r) for r in dedup_ngram_jaccard(spark, sf, strategy="prefix").collect()
        }
        assert band == pref and band, (sf, len(band), len(pref))


def test_ngram_auto_strategy_profile(spark):
    """VERDICT r6 #3 done-bar: strategy='auto' (the entry default since
    r7) must pick 'band' on the fixture corpus (tiny ~1k-gram
    vocabulary -> prefix inverted lists degenerate) and 'prefix' on a
    synthetic Zipfian corpus (mostly-unique grams -> df~1 inverted
    lists, while every doc shares one (source, length-band) block so
    banding would be quadratic). The chosen strategy must also stay
    lossless on the Zipfian corpus."""
    from flink_parameter_server_spark import scratch
    from flink_parameter_server_spark.operators.dedup import (
        choose_ngram_strategy,
        dedup_ngram_jaccard,
        ngram_grams_frame,
        token_hash_arrays,
    )

    # fixture corpus -> band
    scratch.release()
    sf = SF_SMALL.replace("0.001", "0.01")
    g_fix = ngram_grams_frame(token_hash_arrays(spark, sf))
    strat_fix, prof_fix = choose_ngram_strategy(g_fix)
    assert strat_fix == "band", prof_fix
    assert prof_fix["band_est_pairs"] < prof_fix["prefix_est_pairs"], prof_fix

    # synthetic Zipfian-ish corpus: 300 docs, one source, one length
    # band, each doc 20 near-unique token hashes (df~1 bigrams) except
    # a handful of genuine near-dup clones so the pair set is nonempty
    rows = []
    for d in range(300):
        base = d * 1000
        th = [base + i for i in range(20)]
        rows.append((d, "web", 50, th))
    for d in range(300, 306):  # clones of doc 0 with one token changed
        th = [0 + i for i in range(20)]
        th[5] = d * 1000 + 5
        rows.append((d, "web", 50, th))
    tha = spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long, th array<long>"
    )
    g_zipf = ngram_grams_frame(tha)
    strat_z, prof_z = choose_ngram_strategy(g_zipf)
    assert strat_z == "prefix", prof_z
    assert prof_z["prefix_est_pairs"] < prof_z["band_est_pairs"], prof_z

    # auto (resolves to prefix here) is lossless vs forced band
    scratch.release()
    auto_pairs = {
        tuple(r) for r in dedup_ngram_jaccard(spark, sf, tha=tha).collect()
    }
    scratch.release()
    band_pairs = {
        tuple(r)
        for r in dedup_ngram_jaccard(spark, sf, tha=tha, strategy="band").collect()
    }
    assert auto_pairs == band_pairs and auto_pairs, (len(auto_pairs), len(band_pairs))


def test_corpus_curate_stage_semantics(spark, tmp_path):
    """The r7 curation pipeline (train_test_split part='curated') on a
    corpus engineered to fire EVERY stage: short docs (quality), verbatim
    + whitespace-variant copies (exact dedup — the driver fixture is
    dup-free so the stage never fires there), near-dup clones (minhash),
    and clean survivors. Pins stage precedence (quality beats exact:
    a short doc that is also a copy reports rejected:quality), keeper
    semantics (min doc_id survives; a COPY of a quality-rejected doc is
    the keeper of its group, not an exact_dup reject), and oracle
    parity on the same synthetic corpus."""
    import duckdb
    from pyspark.sql import functions as F

    from flink_parameter_server_spark.plans import REGISTRY
    from tests.conftest import register_duck_views
    from tests.fixture_dirs import derive
    from tests.oracle import compare

    body = " ".join(f"tok{i} word{i % 7} filler{i % 11}" for i in range(20))
    bench = " ".join(f"bench{i} eval{i % 5} item{i % 9}" for i in range(25))
    # doc_id 13 is in the seeded eval holdout (int_hash(13,5,77)%13==0 —
    # see curate.is_eval_holdout); 8 near-duplicates it -> contaminated,
    # and contamination must take precedence over near-dup CC
    docs = [
        (1, body + " alpha", "en", "web"),          # clean keeper
        (2, body + " alpha", "en", "web"),          # verbatim copy -> exact_dup
        (3, "  " + body.upper() + "   ALPHA ", "en", "web"),  # case/ws variant -> exact_dup
        (4, body + " alpha beta", "en", "web"),     # near-dup of 1 -> near_dup
        (5, "short doc", "en", "web"),              # quality reject
        (6, "short doc", "en", "web"),              # quality reject (copy of 5: quality wins)
        # 60 distinct tokens: >= 50 so the r13 Gopher word-count gate
        # (now live on the flagship's curated part) passes this doc
        (7, " ".join(f"uniq{i}x{i * 3}" for i in range(60)), "en", "web"),  # clean
        (8, bench + " tail", "en", "web"),          # near-dup of eval 13 -> contaminated
        (13, bench, "en", "web"),                   # eval holdout member
    ]
    import pandas as pd

    pdf = pd.DataFrame(docs, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len()
    out = derive(spark, SF_SMALL, str(tmp_path / "curate_corpus"), {"documents": spark.createDataFrame(pdf)})

    spec = REGISTRY["train_test_split"]
    df = spec.fn(spark, out)
    got = {
        r["doc_id"]: r["split"]
        for r in df.where("part = 'curated'").collect()
    }
    assert got[5] == "rejected:quality" and got[6] == "rejected:quality"
    assert got[2] == "rejected:exact_dup" and got[3] == "rejected:exact_dup"
    assert got[4] == "rejected:near_dup"
    assert got[13] == "eval_holdout"
    assert got[8] == "rejected:contaminated"
    assert got[1] in ("train", "valid", "test")
    assert got[7] in ("train", "valid", "test")

    con = duckdb.connect()
    register_duck_views(con, out)
    ok, msg = compare(spec.fn(spark, out), con, spec.oracle)
    assert ok, msg


def test_substring_span_dedup_semantics(spark):
    """The r8 ExactSubstr method (dedup.dedup_substring_spans) on an
    engineered corpus: (1) two docs sharing one 8-token run pair up
    even when the rest differs completely (MinHash-Jaccard would miss
    them at ~0.15 sim); (2) containment score hits 1.0 when one doc's
    span set is a subset of the other's; (3) a boilerplate span
    occurring in > SPAN_DF_CAP docs generates NO pairs (the hot-key
    guard that keeps the join bounded at scale)."""
    from flink_parameter_server_spark.operators.dedup import (
        SPAN_DF_CAP,
        dedup_substring_spans,
    )

    span = " ".join(f"quoted{i}" for i in range(8))  # the shared 8-token run
    filler_a = " ".join(f"aa{i}" for i in range(40))
    filler_b = " ".join(f"bb{i}" for i in range(40))
    boiler = " ".join(f"license{i}" for i in range(8))
    rows = [
        (1, f"{filler_a} {span}"),
        (2, f"{span} {filler_b}"),
        (3, f"{span}"),  # exactly the span: contained in 1 and 2
        (4, " ".join(f"solo{i}" for i in range(40))),  # shares nothing
    ]
    # boilerplate: the same 8-token run in CAP+2 other docs
    rows += [
        (100 + i, f"{boiler} uniq{i}a uniq{i}b uniq{i}c uniq{i}d uniq{i}e uniq{i}f uniq{i}g")
        for i in range(SPAN_DF_CAP + 2)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs = docs.withColumn("source", F.lit("web")).withColumn(
        "n_chars", F.length("text")
    )
    tha = docs.select("doc_id", "source", "n_chars").join(
        __import__(
            "flink_parameter_server_spark.operators._dedup_core",
            fromlist=["token_hashes"],
        ).token_hashes(docs.select("doc_id", "text")),
        "doc_id",
    )
    out = {
        (r["doc_a"], r["doc_b"]): r["score"]
        for r in dedup_substring_spans(spark, None, tha=tha).collect()
    }
    assert (1, 2) in out and (1, 3) in out and (2, 3) in out
    assert out[(1, 3)] == 1.0 and out[(2, 3)] == 1.0  # doc 3 fully contained
    assert not any(4 in p for p in out)
    # every boilerplate-only pair is suppressed by the DF cap
    assert not any(a >= 100 and b >= 100 for a, b in out)


def test_cluster_semantic_space_keep_rule(spark):
    """r9 dedup_cluster_canonical space='semantic': exactly one keeper
    per cluster, the keeper is its cluster's LEAST-centroid-similar
    member on the 6dp-rounded cosine (ties -> lowest id), every
    semantic pair's endpoints share a cluster, and the space equals
    semdedup_prune row for row."""
    from flink_parameter_server_spark.operators.similarity import semdedup_prune

    lab = (
        REGISTRY["dedup_cluster_canonical"]
        .fn(spark, SF_SMALL)
        .where("space = 'semantic'")
    )
    rows = lab.collect()
    assert rows
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for cl, members in by_cluster.items():
        assert sum(m["is_canonical"] for m in members) == 1
        assert cl == min(m["doc_id"] for m in members)
    pairs = (
        REGISTRY["dedup_near_dup_pairs"]
        .fn(spark, SF_SMALL)
        .where("method = 'semantic'")
        .collect()
    )
    cl_of = {r["doc_id"]: r["cluster"] for r in rows}
    assert pairs and all(cl_of[p["doc_a"]] == cl_of[p["doc_b"]] for p in pairs)
    prune = {
        (r["vec_id"], r["component"], r["keep"]) for r in semdedup_prune(spark, SF_SMALL).collect()
    }
    assert {(r["doc_id"], r["cluster"], r["is_canonical"]) for r in rows} == prune
