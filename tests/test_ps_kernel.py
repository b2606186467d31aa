"""Unit tests for the PS kernel (SURVEY.md §5.1 analog of the reference's
scalatest suite: pull/push/fold correctness on hand-computed examples,
plus the transformWithModelLoad roundtrip)."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from flink_parameter_server_spark import scratch
from flink_parameter_server_spark.ps import mf
from flink_parameter_server_spark.ps.kernel import BatchParameterServer
from tests.conftest import SF_SMALL


def _init_fn(pid):
    # value(id) = [id*1.0, id*2.0] — easy to hand-compute
    return F.array(pid.cast("double"), pid.cast("double") * 2)


def test_pull_lazy_init(spark):
    ps = BatchParameterServer(init_fn=_init_fn)
    keys = spark.createDataFrame([(1,), (3,)], ["param_id"])
    got = {r.param_id: r.value for r in ps.pull(keys).collect()}
    assert got == {1: [1.0, 2.0], 3: [3.0, 6.0]}


def test_push_folds_additively(spark):
    ps = BatchParameterServer(init_fn=_init_fn)
    deltas = spark.createDataFrame(
        [(1, [0.5, 0.5]), (1, [0.25, 0.0]), (2, [1.0, -1.0])], ["param_id", "delta"]
    )
    ps.push(deltas)
    got = {r.param_id: r.value for r in ps.params.collect()}
    # two pushes to key 1 combine (0.75, 0.5) onto init (1, 2)
    assert got[1] == [1.75, 2.5]
    assert got[2] == [3.0, 3.0]  # init(2,4) + (1,-1)


def test_second_push_merges_with_existing_state(spark):
    ps = BatchParameterServer(init_fn=_init_fn)
    ps.push(spark.createDataFrame([(1, [1.0, 1.0])], ["param_id", "delta"]))
    ps.push(spark.createDataFrame([(1, [0.5, 0.0]), (2, [0.1, 0.1])], ["param_id", "delta"]))
    got = {r.param_id: r.value for r in ps.params.collect()}
    assert got[1] == [2.5, 3.0]  # init(1,2) + (1,1) + (0.5,0)
    assert got[2] == [2.1, 4.1]  # lazy init on second push


def test_iterate_runs_epochs(spark):
    ps = BatchParameterServer(init_fn=_init_fn)
    data = spark.createDataFrame([(1,), (1,), (2,)], ["param_id"])

    def step(d, server):
        pulled = server.pull(d)
        return pulled.select("param_id", F.transform("value", lambda x: F.lit(0.0) * x + 1.0).alias("delta"))

    model = ps.iterate(data, step, epochs=2)
    got = {r.param_id: r.value for r in model.collect()}
    # key 1 appears twice per epoch -> +2 per dim per epoch; key 2 once -> +1
    assert got[1] == [5.0, 6.0]
    assert got[2] == [4.0, 6.0]


def test_model_dump_load_roundtrip(spark):
    """A6 transformWithModelLoad: dump, load, keep training."""
    ps = BatchParameterServer(init_fn=_init_fn)
    ps.push(spark.createDataFrame([(7, [1.0, 1.0])], ["param_id", "delta"]))
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/model"
        ps.params.write.parquet(path)
        ps2 = BatchParameterServer.load(spark, path, init_fn=_init_fn)
        ps2.push(spark.createDataFrame([(7, [0.5, 0.5]), (8, [0.0, 1.0])], ["param_id", "delta"]))
        got = {r.param_id: r.value for r in ps2.params.collect()}
    assert got[7] == [8.5, 15.5]  # init(7,14) + (1,1) + (0.5,0.5)
    assert got[8] == [8.0, 17.0]  # lazy init after load


def test_bidirectional_trainer_checkpoints_every_epoch(spark):
    """Perf contract (r6): train_bidirectional's per-epoch plan references
    the prior params in three places (two pulls + the merge join), so
    without a per-epoch lineage cut the optimizer re-expands hundreds of
    join subtrees (measured ~450 joins / 9.4s for 2 epochs at sf0.1;
    ~2.9s with the cut). Pin both the cadence and its observable effect:
    the final model's physical plan must read a checkpointed RDD scan,
    not the full two-epoch join lineage."""
    from flink_parameter_server_spark.ps import mf
    from tests.conftest import SF_SMALL

    ratings = mf.ratings(spark, SF_SMALL)
    model = mf.train_bidirectional(spark, ratings, epochs=2)
    plan = model._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan  # localCheckpoint-backed params
    # the epoch joins are behind the checkpoint cut, not in this plan
    assert plan.count("Join") == 0


def _train_jobs(spark, ratings, epochs: int) -> int:
    """Spark jobs one ``mf.train(epochs)`` + count starts."""
    sc = spark.sparkContext
    group = f"mf-train-epochs{epochs}"
    scratch.release()
    sc.setJobGroup(group, group)
    try:
        mf.train(spark, ratings, epochs=epochs).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_mf_train_epoch_cost_is_linear(spark):
    """Every epoch adds the same Spark work, whatever its position: each
    epoch reads its predecessor from cache. Unpersisting the superseded
    epoch while the next is still lazy made the cache manager re-plan it
    without that cache, so every epoch recomputed the whole history
    (8/15/32/66 jobs at 1-4 epochs on this fixture; 8/13/19/25 now)."""
    ratings = mf.ratings(spark, SF_SMALL).persist()
    try:
        ratings.count()
        jobs = {n: _train_jobs(spark, ratings, n) for n in (2, 3, 4)}
    finally:
        scratch.release()
        ratings.unpersist()
    assert jobs[4] - jobs[3] == jobs[3] - jobs[2], jobs


def test_superseded_params_caches_bounded_by_checkpoint_every(spark):
    """Superseded params frames stay cached until the next checkpoint cut
    has read them, then the whole chain is freed: at most
    ``checkpoint_every`` params caches are ever live, the fold is exact,
    and ``scratch.release()`` frees every block the server persisted."""
    every = 3
    pushes = 2 * every + 1
    scratch.release()
    baseline = scratch.persistent_rdd_ids(spark)
    ps = BatchParameterServer(init_fn=_init_fn, checkpoint_every=every)
    seen: set[int] = set()
    checkpoints: set[int] = set()
    live_caches = []
    for i in range(1, pushes + 1):
        ps.push(spark.createDataFrame([(1, [1.0, 0.5]), (i % 3, [0.25, 0.0])], ["param_id", "delta"]))
        ps.params.count()
        live = scratch.persistent_rdd_ids(spark) - baseline
        if i % every == 0:
            # a cut: only its checkpoint blocks are new
            checkpoints |= live - seen
        seen |= live
        live_caches.append(len(live - checkpoints))
    assert len(checkpoints) == pushes // every
    # between cuts the superseded frames stay cached (the frame a cut
    # returns is checkpoint blocks, not a cache): every - 1 caches just
    # before a cut, the current one included, and each cut frees them all
    assert max(live_caches) == every - 1
    assert [live_caches[i - 1] for i in range(every, pushes + 1, every)] == [0] * (pushes // every)
    # init(id) = [id, 2 id]; key 1 gets (1, 0.5) every push and (0.25, 0)
    # when i % 3 == 1; keys 0 and 2 get (0.25, 0) when i % 3 hits them
    want = {0: [0.0, 0.0], 1: [1.0, 2.0], 2: [2.0, 4.0]}
    for i in range(1, pushes + 1):
        want[1] = [want[1][0] + 1.0, want[1][1] + 0.5]
        want[i % 3] = [want[i % 3][0] + 0.25, want[i % 3][1]]
    got = {r.param_id: r.value for r in ps.params.collect()}
    assert got == want
    scratch.release()
    assert not seen & scratch.persistent_rdd_ids(spark)


def test_push_derives_width_without_a_spark_job(spark):
    """The fold width is size(init_fn(param_id)) over a one-row local
    relation, which Catalyst folds on the driver: a lazy push (width
    derivation included) launches no Spark job. The control count in
    the same job group shows the group does see jobs."""
    sc = spark.sparkContext
    deltas = spark.createDataFrame([(1, [1.0, 0.5])], ["param_id", "delta"])
    ps = BatchParameterServer(init_fn=mf.item_vec)
    group = "test_push_derives_width"
    sc.setJobGroup(group, "width derivation")
    try:
        ps.push(deltas.select("param_id", F.array(*[F.lit(0.5)] * mf.K).alias("delta")))
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        assert ps._width == mf.K
        deltas.count()  # control
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    scratch.release()


def test_push_cuts_lineage_through_kernel_scoped_checkpoint(spark, monkeypatch):
    """The traced benchmark counts and times lineage cuts by wrapping the
    name ``kernel.scoped_checkpoint``: every cut must go through that
    name, once per ``checkpoint_every`` pushes. A cut routed elsewhere
    would silently read 0 in the traced checkpoint metrics."""
    from flink_parameter_server_spark.ps import kernel

    calls = []
    real = kernel.scoped_checkpoint

    def counting(df, ids):
        calls.append(1)
        return real(df, ids)

    monkeypatch.setattr(kernel, "scoped_checkpoint", counting)
    every = 2
    ps = BatchParameterServer(init_fn=_init_fn, checkpoint_every=every)
    for _ in range(2 * every):
        ps.push(spark.createDataFrame([(1, [1.0, 0.5])], ["param_id", "delta"]))
    assert len(calls) == 2
    assert {r.param_id: r.value for r in ps.params.collect()} == {1: [5.0, 4.0]}
    scratch.release()
