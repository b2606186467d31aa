"""Physical-plan assertions — the 100 TB design contract (SURVEY.md §4):
filters must reach the parquet scan, small dims must broadcast, partial
aggregation must be present, and nothing may degenerate to a cartesian
product. Catching plan regressions here is the point; wall-clock is
bench.py's job."""

from __future__ import annotations

import pytest

from flink_parameter_server_spark.plans import REGISTRY
from tests.conftest import SF_SMALL


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_SMALL)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = REGISTRY["revenue_forecast"].fn(spark, SF_SMALL)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:400]


def test_column_pruning_reaches_scan(spark):
    df = REGISTRY["revenue_forecast"].fn(spark, SF_SMALL)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # only the 4 needed columns, not all 11
    assert "l_extendedprice" in read_schema and "l_orderkey" not in read_schema


def test_dimension_joins_broadcast(spark):
    plan = _plan(spark, "revenue_by_nation")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_partial_aggregation_present(spark):
    plan = _plan(spark, "pricing_summary")
    # map-side partial + final: two HashAggregate operators
    assert plan.count("HashAggregate") >= 2


def test_no_cartesian_in_flagship(spark):
    plan = _plan(spark, "copurchase_recommend_top5")
    assert "CartesianProduct" not in plan


def test_asof_join_is_single_window_not_pair_join(spark):
    plan = _plan(spark, "purchase_last_click_asof")
    assert "RunningWindowFunction" in plan or "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_topk_uses_takeordered(spark):
    plan = _plan(spark, "top_unshipped_orders")
    assert "TakeOrderedAndProject" in plan


def _pushed_fold_plan(spark, checkpointed_plans):
    """Push 100 two-wide deltas over 5 keys into a server built from its
    init_fn alone; return (executed plan of the checkpointed merge,
    {param_id: value})."""
    from pyspark.sql import functions as F

    from flink_parameter_server_spark import scratch
    from flink_parameter_server_spark.ps.kernel import BatchParameterServer

    deltas = spark.range(100).select(
        (F.col("id") % 5).alias("param_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("delta"),
    )
    ps = BatchParameterServer(lambda pid: F.array(F.lit(0.0), F.lit(0.0)))
    try:
        ps.push(deltas)
        (plan,) = checkpointed_plans
        return plan, {r["param_id"]: r["value"] for r in ps.params.collect()}
    finally:
        # free the push's checkpoint blocks
        scratch.release()


def test_ps_push_fold_is_exploded_sum_not_collect_list(spark, checkpointed_plans):
    """The kernel's push fold must be an element-level sum with map-side
    partial aggregation — never collect_list over the raw delta arrays,
    whose per-key state is O(fan-in x k) and OOMs when fan-in =
    instances-per-feature. The width is now derived from init_fn, so the
    sum runs over the k flat elements rather than exploded rows."""
    plan, rows = _pushed_fold_plan(spark, checkpointed_plans)
    assert "collect_list" not in plan
    assert "partial_sum(" in plan
    # and the fold is numerically the elementwise sum
    assert rows[0] == [20.0, 40.0]


def test_ps_push_fold_static_k_is_flat_sums(spark, monkeypatch, checkpointed_plans):
    """The fold is k flat element sums in ONE aggregation, with the static
    k derived from init_fn: no row explosion, no second shuffle, no
    collect_list reassembly."""
    from flink_parameter_server_spark.ps.kernel import BatchParameterServer

    plan, rows = _pushed_fold_plan(spark, checkpointed_plans)
    assert "posexplode" not in plan.lower() and "Generate" not in plan
    assert "collect_list" not in plan
    # one partial+final aggregation pair, not two chained aggregations
    assert plan.count("HashAggregate") + plan.count("ObjectHashAggregate") == 2
    assert rows[0] == [20.0, 40.0]

    # mf.train's step feeds the fold a flat array(...) delta: a
    # transform(uv, ...) lambda would get the error term (an 8-term dot
    # product) inlined and re-run interpreted once per dimension
    from flink_parameter_server_spark import scratch
    from flink_parameter_server_spark.ps import mf

    scratch.release()
    checkpointed_plans.clear()
    mf.train(spark, mf.ratings(spark, SF_SMALL), epochs=1)
    (plan,) = checkpointed_plans
    assert "partial_sum(" in plan  # the fold aggregation is in view
    assert "transform(uv" not in plan
    scratch.release()

    # so does train_bidirectional's, for both factor sides (its pushes
    # are checkpointed, so read the deltas as they reach push)
    pushed = []
    real_push = BatchParameterServer.push

    def recording_push(self, deltas):
        pushed.append(deltas._jdf.queryExecution().optimizedPlan().toString())
        return real_push(self, deltas)

    monkeypatch.setattr(BatchParameterServer, "push", recording_push)
    mf.train_bidirectional(spark, mf.ratings(spark, SF_SMALL), epochs=1)
    assert len(pushed) == 1
    import re

    for vec in ("uvec", "ivec"):
        assert not re.search(rf"transform\({vec}#", pushed[0]), pushed[0]
        assert re.search(rf"{vec}#\d+\[7\]", pushed[0]), pushed[0]
    scratch.release()


def test_recommend_topk_prunes_before_window(spark):
    """B5 LEMP pruning contract (VERDICT r1 'What's missing' #1, tightened
    by VERDICT r5 #2): the top-k scorer must not feed an unbounded
    users x items cross join into the window shuffle, and since r6 the
    theta scan is a norm-band EQUI-join — no BroadcastNestedLoopJoin
    anywhere (that was the one plan that died when the user side outgrew
    a broadcast). The theta prefilter still drops sub-cutoff scores
    before the window Exchange."""
    plan = _plan(spark, "mf_recommend_topk")
    assert "CartesianProduct" not in plan
    # the theta scan is an equi-join on (band, salt) — never a BNLJ
    assert "BroadcastNestedLoopJoin" not in plan
    assert "band" in plan and "theta" in plan
    # theta score prefilter sits below the window (Filter on score >= theta)
    assert "score" in plan and "Window" in plan


def test_recommend_topk_debroadcast(spark):
    """VERDICT r5 #2 done bar: the 100x shape rehearsal. With
    auto-broadcast disabled the whole program must still plan as
    shuffle joins — no BroadcastNestedLoopJoin, no CartesianProduct —
    because no step depends on broadcasting the (unbounded) user side.
    The only hinted broadcasts left are the SEED_M-row prefix and the
    1-row norm-extrema aggregate, both bounded by construction."""
    from flink_parameter_server_spark import scratch
    from flink_parameter_server_spark.ps import mf

    scratch.release()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = mf.recommend_topk(spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_recommend_topk_theta_filter_shrinks_window_input(spark):
    """The theta prefilter must actually shrink the window input: the
    pre-window candidate set is a small multiple of users*k, far below
    the users*items rows brute force shuffled."""
    from pyspark.sql import functions as F

    from flink_parameter_server_spark.ps import mf

    users = mf.t(spark, SF_SMALL, "customer").where(F.col("c_custkey") % 50 == 0).count()
    items = mf.t(spark, SF_SMALL, "part").count()
    cand = mf.topk_candidates(spark, SF_SMALL).count()
    # lossless floor: at least k candidates per user survive
    assert cand >= users * 5
    # pruning ceiling: nowhere near the full cross product (theta keeps
    # ~k/SEED_M of random pairs; allow generous slop for tiny fixtures)
    assert cand < users * items * 0.25
    assert mf.recommend_topk(spark, SF_SMALL).count() == users * 5


def test_negative_sampling_is_draw_join_not_grid(spark):
    """VERDICT r4 task #2: candidate generation must be K index draws per
    user equi-joined to the item table — never the users x items cross
    join filtered by hash (O(U*I) work + full-item-table broadcast that
    stops broadcasting at 100x the item side). The plan therefore has no
    nested-loop/cartesian anywhere, and the pre-exclusion candidate count
    is bounded by U*NEG_DRAWS, not U*I."""
    from flink_parameter_server_spark.operators._util import t
    from flink_parameter_server_spark.ps.queries import NEG_DRAWS

    plan = _plan(spark, "mf_negative_samples")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # the draw fan-out (the only row-expansion in the plan) is K per user,
    # a constant far below the item-table cardinality the old grid paid
    assert NEG_DRAWS < t(spark, SF_SMALL, "part").count()
    # and the item side joins by key, not by broadcast-grid filter
    assert "idx" in plan and "Generate explode" in plan


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """SURVEY §4 claims DynamicPartitionPruning comes free from Catalyst
    on a partitioned fact layout joined to a filtered dim — the classic
    100 TB star-join access path. Static pruning and partitioned writes
    are already pinned in tests/test_scale_paths.py; this pins the
    DYNAMIC side: a non-literal dim filter must install a dynamicpruning
    subquery on the fact scan so only matching partitions are read."""
    from pyspark.sql import functions as F

    from flink_parameter_server_spark.operators._util import t

    fact_dir = str(tmp_path / "events_by_day")
    ev = t(spark, SF_SMALL, "events").withColumn("day", F.to_date("ts"))
    ev.write.partitionBy("day").mode("overwrite").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)

    days = [r["day"] for r in fact.select("day").distinct().orderBy("day").limit(2).collect()]
    dim = spark.createDataFrame([(d, i) for i, d in enumerate(days)], "day date, tag int")
    joined = fact.join(dim.where(F.col("tag") == 0), "day").groupBy("day").count()
    plan = joined._jdf.queryExecution().sparkPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the result only touched the selected partition
    assert joined.collect()[0]["day"] == days[0]


def test_copurchase_single_custkey_exchange(spark):
    """VERDICT r2 task #7: the scored candidate set must move ONCE — one
    repartition on custkey feeds BOTH the aggregation and the window.
    A regression would show up as a (custkey, rec) exchange from the
    groupBy or a second custkey-only exchange under the window."""
    import re

    plan = _plan(spark, "copurchase_recommend_top5")
    # exactly one custkey-only exchange: the deliberate REPARTITION_BY_COL
    custkey_only = re.findall(r"Exchange hashpartitioning\(custkey#\d+L, \d+\)", plan)
    assert len(custkey_only) == 1, custkey_only
    # the aggregation must NOT have inserted its own (custkey, rec) shuffle
    assert not re.search(r"hashpartitioning\(custkey#\d+L, rec#", plan)


def test_copurchase_debroadcast_keeps_single_exchange(spark):
    """VERDICT r3 task #6: the 100 TB shape rehearsal. With the broadcast
    hints stripped and auto-broadcast disabled, the same program must run
    as co-partitioned sort-merge joins — and the agg+window must STILL
    share the one custkey exchange (the anti join legitimately adds its
    own (custkey, rec) exchanges; the aggregation must not)."""
    import re

    from flink_parameter_server_spark import scratch
    from flink_parameter_server_spark.operators.recommend import copurchase_recommend_top5

    # earlier tests cached the shared intermediates with broadcast-era
    # physical plans; release them or CacheManager substitutes those
    # InMemoryRelations (BroadcastHashJoin inside) into this plan
    scratch.release()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = copurchase_recommend_top5(spark, SF_SMALL, broadcast_dims=False)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    assert "BroadcastHashJoin" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("SortMergeJoin") >= 3  # basket pair, score, anti joins
    custkey_only = re.findall(r"Exchange hashpartitioning\(custkey#\d+L, \d+\)", plan)
    assert len(custkey_only) == 1, custkey_only
    # agg + window reuse it: walking down from the Window operator, the
    # first Exchange reached must BE the custkey-only one, with the final
    # aggregation in between (hash(custkey) satisfies the (custkey, rec)
    # clustering requirement, so no extra shuffle is inserted)
    lines = plan.splitlines()
    w_idx = next(i for i, ln in enumerate(lines) if "Window" in ln)
    x_idx = next(i for i, ln in enumerate(lines) if custkey_only[0] in ln)
    between = lines[w_idx + 1 : x_idx]
    assert not any("Exchange" in ln for ln in between), between
    assert any("HashAggregate" in ln for ln in between)
