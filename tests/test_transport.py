"""A10 — decoupled worker<->server transport over file-queue topics
(streaming/transport.py, the Kafka-transport stand-in).

The contract being proved: running the parameter server as a SEPARATE
job that consumes worker messages from a topic must be record-for-record
equivalent to the in-job BatchParameterServer processing the same
messages in the same arrival order — pulls answered against exactly the
state visible at their point in the message stream, pushes folded
identically, final model dump identical.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_parameter_server_spark.ps.kernel import BatchParameterServer
from flink_parameter_server_spark.scratch import persistent_rdd_ids
from flink_parameter_server_spark.streaming.transport import FileQueueTransport


def _init(pid):
    # deterministic 2-dim init, exact in float64
    return F.array((pid.cast("double") * F.lit(0.5)), pid.cast("double") + F.lit(1.0))


def _keys(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "param_id long")


def _deltas(spark, rows):
    return spark.createDataFrame(rows, "param_id long, delta array<double>")


def _by_key(df):
    return {r["param_id"]: r["value"] for r in df.collect()}


@pytest.fixture()
def topic_root(tmp_path):
    return str(tmp_path)


def test_file_queue_transport_matches_in_job_kernel(spark, topic_root):
    tp = FileQueueTransport(topic_root)

    # arrival order: cold pulls | pushes | warm pulls (3 topic files)
    cold_keys = _keys(spark, [0, 1, 2])
    deltas = _deltas(
        spark,
        [(1, [0.25, -1.0]), (2, [1.0, 1.0]), (2, [0.5, 0.5]), (3, [2.0, 0.0])],
    )
    warm_keys = _keys(spark, [1, 3, 5])

    # no sleeps: send() stamps each file strictly after every existing
    # topic file, so back-to-back sends arrive in send order
    tp.send(tp.pulls(cold_keys, worker_partition=0), "000_cold")
    tp.send(tp.pushes(deltas, worker_partition=1), "001_push")
    tp.send(tp.pulls(warm_keys, worker_partition=1), "002_warm")

    server = tp.run_server(spark, init_fn=_init)
    answers = tp.answers(spark)

    # in-job replay of the same message order: the equivalence reference
    ref = BatchParameterServer(init_fn=_init)
    cold_expected = _by_key(ref.pull(cold_keys))
    ref.push(deltas)
    warm_expected = _by_key(ref.pull(warm_keys))

    got_cold = _by_key(
        answers.where(F.col("batch_id") == 0).select("param_id", "value")
    )
    got_warm = _by_key(
        answers.where(F.col("batch_id") == 2).select("param_id", "value")
    )
    assert got_cold == cold_expected  # lazy init, no pushes folded yet
    assert got_warm == warm_expected  # post-fold state incl. untouched key 5
    # pushed-key sanity: init(1)=[0.5,2.0] + [0.25,-1.0]
    assert got_warm[1] == [0.75, 1.0]
    assert got_warm[5] == [2.5, 6.0]  # never pushed -> pure init

    # PullAnswer routing preserves the requesting worker partition
    parts = {
        r["batch_id"]: r["worker_partition"]
        for r in answers.select("batch_id", "worker_partition").distinct().collect()
    }
    assert parts == {0: 0, 2: 1}

    # final model dump (ParameterServerLogic.close -> output) identical
    assert _by_key(server.params) == _by_key(ref.params)


def test_mixed_batch_folds_pushes_before_answering_pulls(spark, topic_root):
    """Within one topic file (= one micro-batch), the server processes
    pushes before answering pulls — the reference server drains its
    message batch the same way. A pull arriving alongside a push for the
    same key must therefore see the post-fold value."""
    tp = FileQueueTransport(topic_root)
    mixed = tp.pushes(_deltas(spark, [(3, [1.0, -1.0])])).unionByName(
        tp.pulls(_keys(spark, [3]))
    )
    tp.send(mixed, "000_mixed")
    tp.run_server(spark, init_fn=_init)
    got = _by_key(tp.answers(spark).select("param_id", "value"))
    assert got[3] == [2.5, 3.0]  # init(3)=[1.5,4.0] + [1.0,-1.0]


def test_transport_server_restart_resumes_from_checkpoint(spark, topic_root):
    """The decoupling point of A10: the server job can stop and a new
    incarnation drains only NEW topic files (checkpointed source offsets),
    folding onto the model carried over from the previous run."""
    tp = FileQueueTransport(topic_root)
    tp.send(tp.pushes(_deltas(spark, [(7, [1.0, 1.0])])), "000_a")
    server1 = tp.run_server(spark, init_fn=_init)
    model1 = _by_key(server1.params)

    tp.send(tp.pushes(_deltas(spark, [(7, [0.5, 0.0])])), "001_b")
    # new server incarnation seeded with the previous model (A6
    # transformWithModelLoad composed with the transport), same checkpoint
    server2 = FileQueueTransport(topic_root).run_server(
        spark, init_fn=_init, params=server1.params
    )
    model2 = _by_key(server2.params)
    assert model1[7] == [4.5, 9.0]  # init(7)=[3.5,8.0] + [1.0,1.0]
    # server2 superseded its seed but must not free it: it is the caller's
    assert _by_key(server1.params) == model1
    # seeded restart: prior model + file b ONLY — a re-fold of file a
    # would read [6.0, 10.0]
    assert model2[7] == [5.0, 9.0]


def test_drain_keeps_only_the_final_cut(spark, topic_root):
    """Every push cuts a params checkpoint; the server frees each cut a
    later batch supersedes, so a 4-push drain leaves exactly one new
    persisted RDD: the final model's."""
    tp = FileQueueTransport(topic_root)
    for i in range(4):
        tp.send(tp.pushes(_deltas(spark, [(i % 2, [1.0, 0.0])])), f"00{i}_push")
    before = persistent_rdd_ids(spark)
    server = tp.run_server(spark, init_fn=_init)
    assert len(persistent_rdd_ids(spark) - before) == 1
    # init(0)=[0.0,1.0] and init(1)=[0.5,2.0], each + 2 x [1.0,0.0]
    assert _by_key(server.params) == {0: [2.0, 1.0], 1: [2.5, 2.0]}


def test_transport_unseeded_restart_is_model_fresh(spark, topic_root):
    """Without a params seed the restart contract is offsets-held but
    model-fresh: already-drained pushes are NOT re-folded and NOT
    remembered. Run one incarnation, restart unseeded, push nothing new:
    the model is pure lazy init."""
    tp = FileQueueTransport(topic_root)
    tp.send(tp.pushes(_deltas(spark, [(7, [1.0, 1.0])])), "000_a")
    tp.run_server(spark, init_fn=_init)

    tp.send(tp.pushes(_deltas(spark, [(9, [0.5, 0.0])])), "001_b")
    server2 = FileQueueTransport(topic_root).run_server(spark, init_fn=_init)
    model2 = _by_key(server2.params)
    assert 7 not in model2  # file a's key: neither re-folded nor carried
    assert model2[9] == [5.0, 10.0]  # init(9)=[4.5,10.0] + [0.5,0.0]


def test_push_only_run_has_empty_answer_stream(spark, topic_root):
    """answers() on a topic whose server never saw a pull is an empty
    DataFrame with the PullAnswer schema, not a path-missing error."""
    tp = FileQueueTransport(topic_root)
    tp.send(tp.pushes(_deltas(spark, [(1, [1.0, 1.0])])), "000_push")
    tp.run_server(spark, init_fn=_init)
    ans = tp.answers(spark)
    assert ans.count() == 0
    assert set(ans.columns) == {"worker_partition", "param_id", "value", "batch_id"}


def test_send_order_is_deterministic_within_one_mtime_tick(spark, topic_root):
    """Two back-to-back sends (far inside one filesystem mtime tick) must
    arrive in send order: a pull sent AFTER a push for the same key sees
    the post-fold value. Before send() stamped an explicit monotonic
    mtime this order was filesystem-dependent."""
    tp = FileQueueTransport(topic_root)
    tp.send(tp.pushes(_deltas(spark, [(3, [1.0, -1.0])])), "000_push")
    tp.send(tp.pulls(_keys(spark, [3])), "001_pull")
    tp.run_server(spark, init_fn=_init)
    got = _by_key(tp.answers(spark).select("param_id", "value"))
    assert got[3] == [2.5, 3.0]  # init(3)=[1.5,4.0] + [1.0,-1.0]


def test_answers_schema_consistent_between_push_only_and_populated(spark, topic_root):
    """answers() must return the SAME structure whether the topic served
    pulls (real parquet read, whose bid=N layout partition-discovers an
    extra column and whose batch_id was written from a python int) or
    nothing (declared-schema empty frame) — a consumer unionByName-ing
    the two must not care which path produced each."""
    from flink_parameter_server_spark.streaming.transport import S2W_SCHEMA

    push_only = FileQueueTransport(topic_root + "/a")
    push_only.send(push_only.pushes(_deltas(spark, [(7, [1.0, 1.0])])), "000_a")
    push_only.run_server(spark, init_fn=_init)
    empty_ans = push_only.answers(spark)

    served = FileQueueTransport(topic_root + "/b")
    served.send(served.pulls(_keys(spark, [3])), "000_p")
    served.run_server(spark, init_fn=_init)
    real_ans = served.answers(spark)

    assert empty_ans.schema == S2W_SCHEMA
    assert real_ans.schema == S2W_SCHEMA
    assert empty_ans.unionByName(real_ans).count() == real_ans.count()


def test_server_push_fold_is_flat_sums(spark, topic_root, checkpointed_plans):
    """The server folds each micro-batch's pushes with the kernel's one
    flat-sum aggregation: no explode and no collect_list re-assembly in
    the executed plan of each push's merge (read on its way into the
    checkpoint cut: the params are checkpoint scans)."""
    tp = FileQueueTransport(topic_root)
    tp.send(tp.pushes(_deltas(spark, [(1, [1.0, 1.0]), (1, [0.5, 0.0])])), "000_a")
    tp.send(tp.pushes(_deltas(spark, [(2, [2.0, 0.0])])), "001_b")
    server = tp.run_server(spark, init_fn=_init)
    assert len(checkpointed_plans) == 2  # one merge per micro-batch
    for plan in checkpointed_plans:
        assert "partial_sum(" in plan  # the fold is in view
        assert "Generate" not in plan and "collect_list" not in plan
    assert _by_key(server.params) == {1: [2.0, 3.0], 2: [3.0, 3.0]}
