"""Registry-wide plan-safety sweep — the global complement to the
per-query pins in test_plans.py.

Every one of the 50 registry entries is planned at sf0.001 and its
physical plan audited for the two operators that do not survive a 100x
scale-up when either side is unbounded:

- ``CartesianProduct``: never acceptable anywhere — all-pairs work. The
  sweep asserts ZERO occurrences across the whole registry.
- ``BroadcastNestedLoopJoin``: acceptable ONLY when the broadcast side
  is bounded by construction (a constant grid, a 1-row scalar
  aggregate, a k-row centroid table). Each entry that legitimately
  carries one is whitelisted below with its bound and a max count, so
  a new unbounded nested-loop join anywhere — including inside an
  already-whitelisted entry — fails the sweep.

This generalizes VERDICT r1-r5's one-at-a-time plan audits (the
negative-sampling grid, the copurchase de-broadcast, the r6 topk
norm-band join) into a standing contract: adding a registry entry whose
plan degenerates is a test failure, not a next-round verdict finding.
"""

from __future__ import annotations

from flink_parameter_server_spark import scratch
from flink_parameter_server_spark.plans import REGISTRY
from tests.conftest import SF_SMALL

# name -> (max BroadcastNestedLoopJoin count, bound of the broadcast side)
BOUNDED_BNLJ = {
    # IVF centroid assignment broadcasts the counted-n centroid table
    # (~sqrt(n) rows, r11) plus its 1-row count aggregate; brute/simhash
    # variants broadcast 1-row extrema aggregates; the r11 'ivf2'
    # two-level branch adds the n^(1/4)-row super table (crossed once
    # per level) and re-prints its centroid/count children on both
    # sides of the scratch-persisted assignment; the r12 'ivf2_p2'
    # multi-probe branch rebuilds the same bounded geometry for the
    # query-probe side (its catalog side reuses the shared scratch);
    # the r12 'ivfpq' branch adds the CONSTANT <=128-row PQ codebook
    # (scratch-persisted; its 1-row anchor-stride count agg prints on
    # the encode and LUT sides) and shares the flat assignment with
    # 'ivf' via scratch (children re-print per cached-scan side) —
    # every broadcast side remains sqrt(n), n^(1/4), 1 row, or the
    # constant codebook; the r14 'ivfpq_res' branch adds the same
    # bounded family again for the residual side: the 1-row count agg
    # crossed into the unit-centroid table AND the residual-anchor
    # stride filter, the sqrt(n)-row centroid broadcast into the
    # residual map, and the constant residual codebook on the encode
    # and LUT sides (scratch-persisted rx/cb re-print children per
    # cached-scan side, same as the plain lane)
    "embedding_ann_topk": (52, "sqrt(n)/n^(1/4)-row centroid+super tables + 1-row count/norm aggs + constant PQ codebooks (plain + residual lanes)"),
    # the r9 semantic (SemDeDup) part assigns vectors to IVF cells: the
    # broadcast sides are the counted-n centroid table (~sqrt(n) rows,
    # r11 — the retired stride rule's n/64-row table was the one
    # whitelisted bound that grew linearly with data) and its 1-row
    # count aggregate, each printed once per side of the cell self-join
    "dedup_near_dup_pairs": (4, "sqrt(n)-row centroids + 1-row count, twice via cell self-join"),
    # the r9 semantic SPACE reuses the same assignment (scratch-persisted;
    # the plan PRINTS its broadcast children once per cached-scan side)
    "dedup_cluster_canonical": (4, "sqrt(n)-row centroids + 1-row count via the semantic space"),
    # the tier table is a constant literal frame (value-band boundaries)
    "event_value_tiers": (1, "constant tier-boundary frame"),
    # hour-grid fill: bounded spark.range over the window span
    "events_multires_rollup": (1, "bounded hour grid"),
    # sketch probe grids (hash-row x width) are constant-sized
    "sketch_point_queries": (3, "constant sketch probe grids"),
    # BM25/TF-IDF broadcast the 1-row (N, avgdl) corpus statistics
    "text_retrieval": (2, "1-row corpus-statistic aggs"),
    # the mixture part attaches the 1-row (n_tot, s_tot) totals agg to
    # the |langs|-row histogram before broadcasting it to documents.
    # The DSIR weight build (1-row totals crosses, the text_profile
    # shape) and the IVF centroid assignments (semantic curation stage
    # + r9 cluster_balance) sit behind tracked localCheckpoints since
    # late r9 — shared by two consumer parts each, they materialize
    # ONCE and their bounded BNLJs no longer print in the entry plan
    # (the same shapes stay swept via text_profile / dedup_* above)
    "train_test_split": (1, "lang 1-row totals; DSIR + centroid builds checkpointed"),
    # the bigram-LM smoothing denominator attaches the 1-row vocab-size
    # aggregate to the unigram context counts; the r9 DSIR λ table
    # attaches the 1-row (rr, tt) totals (itself a 1-row x 1-row cross)
    # to the B-row bucket counts
    "text_profile": (3, "1-row vocab-size + DSIR totals aggs"),
}


def test_registry_plan_sweep(spark):
    violations = []
    for name in sorted(REGISTRY):
        scratch.release()
        df = REGISTRY[name].fn(spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
        cart = plan.count("CartesianProduct")
        if cart:
            violations.append(f"{name}: {cart} CartesianProduct")
        bnlj = plan.count("BroadcastNestedLoopJoin")
        allowed, _why = BOUNDED_BNLJ.get(name, (0, ""))
        if bnlj > allowed:
            violations.append(
                f"{name}: {bnlj} BroadcastNestedLoopJoin (allowed {allowed})"
            )
    assert not violations, "\n".join(violations)


def test_bnlj_whitelist_has_no_stale_entries(spark):
    """Every whitelisted entry must still exist in the registry — a
    renamed/removed entry must drop its whitelist row, not leave a hole
    a future unbounded join could hide in."""
    stale = set(BOUNDED_BNLJ) - set(REGISTRY)
    assert not stale, stale
