"""Edge-case behavior of the generic operator APIs: empty sides, tolerance
bounds, empty pushes — the inputs a 100 TB pipeline will eventually feed
them."""

from __future__ import annotations

import threading
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from flink_parameter_server_spark.operators.asof import asof_join
from flink_parameter_server_spark.ps.kernel import BatchParameterServer


def _events(spark, rows):
    rows = [(e, u, datetime.fromisoformat(ts)) for e, u, ts in rows]
    return spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")


def test_asof_join_empty_right_side(spark):
    left = _events(spark, [(1, 10, "2024-01-01 12:00:00"), (2, 10, "2024-01-01 13:00:00")])
    right = _events(spark, []).where(F.lit(False))
    out = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts", right_payload=["event_id"])
    rows = out.orderBy("event_id").collect()
    assert len(rows) == 2
    assert all(r.asof_event_id is None and r.asof_ts_us is None for r in rows)


def test_asof_join_tolerance_drops_stale_matches(spark):
    left = _events(spark, [(1, 10, "2024-01-01 12:00:00")])
    right = _events(spark, [(100, 10, "2024-01-01 09:00:00")])  # 3h earlier
    close = asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="ts",
        right_payload=["event_id"], tolerance_us=4 * 3600 * 1_000_000,
    ).first()
    stale = asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="ts",
        right_payload=["event_id"], tolerance_us=1 * 3600 * 1_000_000,
    ).first()
    assert close.asof_event_id == 100
    assert stale.asof_event_id is None


def test_asof_join_inclusive_same_timestamp(spark):
    ts = "2024-01-01 12:00:00"
    left = _events(spark, [(1, 10, ts)])
    right = _events(spark, [(100, 10, ts)])
    out = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts", right_payload=["event_id"]).first()
    assert out.asof_event_id == 100  # <= semantics, like DuckDB ASOF


def test_ps_push_empty_deltas_is_noop(spark):
    ps = BatchParameterServer(init_fn=lambda pid: F.array(pid.cast("double")))
    ps.push(spark.createDataFrame([(1, [2.0])], "param_id long, delta array<double>"))
    before = {r.param_id: r.value for r in ps.params.collect()}
    empty = spark.createDataFrame([], "param_id long, delta array<double>")
    ps.push(empty)
    after = {r.param_id: r.value for r in ps.params.collect()}
    assert before == after


def test_udf_surface_demo_runs(spark):
    """D22 surface (formerly the rows-only registry entry
    udf_surface_demo): pandas_udf + row UDF + Python UDTF compose and
    produce sane output."""
    from flink_parameter_server_spark.operators.relational2 import udf_surface_demo
    from tests.conftest import SF_SMALL

    rows = udf_surface_demo(spark, SF_SMALL).collect()
    assert len(rows) > 0
    assert all(r.n_toks > 0 and r.n_events == 100 for r in rows)


def test_scoped_checkpoint_exact_attribution_concurrent(spark):
    """r15: scoped_checkpoint attributes checkpoint blocks by reading
    the LogicalRDD id off the returned plan (no global diff, no lock
    around materialization). Two concurrent checkpoints must each claim
    exactly their own RDD id, and freeing one must leave the other's
    blocks (and data) alive — with explicit id sets and with one
    scratch scope per thread."""
    from flink_parameter_server_spark.operators._util import overlap
    from flink_parameter_server_spark.scratch import (
        persistent_rdd_ids,
        pinned,
        scoped_checkpoint,
        unpersist_rdd_ids,
    )

    def ckpt(tag):
        ids: set[int] = set()
        df = spark.range(0, 50_000).selectExpr("id", f"id * {tag} as v")
        out = scoped_checkpoint(df, ids)
        return out, ids

    (out1, ids1), (out2, ids2) = overlap(spark, lambda: ckpt(3), lambda: ckpt(7))

    # each call claimed exactly one id, they differ, and both are live
    assert len(ids1) == 1 and len(ids2) == 1 and ids1 != ids2
    live = persistent_rdd_ids(spark)
    assert ids1 <= live and ids2 <= live
    # freeing one must not touch the other: its blocks stay persisted
    # and its (lineage-truncated) data remains readable
    unpersist_rdd_ids(spark, ids1)
    assert ids2 <= persistent_rdd_ids(spark)
    assert out2.count() == 50_000
    unpersist_rdd_ids(spark, ids2)

    # the scope form: each thread opens its own scratch scope, both
    # scopes are open at once, and the first scope's exit frees only
    # its own id while the other thread's frame stays readable
    both_pinned = threading.Barrier(2)
    first_exited = threading.Event()

    def in_scope(tag, exits_first):
        df = spark.range(0, 50_000).selectExpr("id", f"id * {tag} as v")
        with pinned(spark) as ids:
            out = scoped_checkpoint(df)
            both_pinned.wait(timeout=120)
            if not exits_first:
                assert first_exited.wait(timeout=120)
                seen = (persistent_rdd_ids(spark), out.count())
        if exits_first:
            first_exited.set()
            return ids, None
        return ids, seen

    (ids1, _), (ids2, (live, n2)) = overlap(
        spark, lambda: in_scope(3, True), lambda: in_scope(7, False)
    )
    assert len(ids1) == 1 and len(ids2) == 1 and ids1 != ids2
    assert not ids1 & live and ids2 <= live and n2 == 50_000
    assert not (ids1 | ids2) & persistent_rdd_ids(spark)


def test_overlap_threads_inherit_tags_and_local_properties(spark):
    """Every builder runs with the caller's session tags (so the jobs
    it starts stay cancellable with spark.interruptTag) and local
    properties, without the function-form UserWarning; results come
    back in builder order."""
    import warnings

    from flink_parameter_server_spark.operators._util import overlap

    # the tag goes on a child session: under Spark 4.1.2 a session that
    # has ever carried a tag fails later MLlib jobs (LinearSVC transform:
    # NotSerializableException SparkSession$$anon$1), which would break
    # tests that share the session fixture
    tagged = spark.newSession()
    sc = spark.sparkContext

    def probe(i):
        return i, tagged.getTags(), sc.getLocalProperty("fps.overlap.probe")

    tagged.addTag("fps-overlap-tag")
    sc.setLocalProperty("fps.overlap.probe", "caller")
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            out = overlap(tagged, *[lambda i=i: probe(i) for i in range(4)])
    finally:
        tagged.removeTag("fps-overlap-tag")
        sc.setLocalProperty("fps.overlap.probe", None)
    assert [i for i, _, _ in out] == [0, 1, 2, 3]
    assert all("fps-overlap-tag" in tags for _, tags, _ in out)
    assert all(prop == "caller" for _, _, prop in out)


def test_overlap_reraises_builder_exception(spark):
    from flink_parameter_server_spark.operators._util import overlap

    def boom():
        raise ValueError("builder failed")

    with pytest.raises(ValueError, match="builder failed"):
        overlap(spark, lambda: 1, boom)


def test_driver_threads_only_via_overlap():
    """The package starts driver threads in one place: the overlap
    helper. Hand-rolled pools drift (the function form of
    inheritable_thread_target drops session tags)."""
    from pathlib import Path

    root = Path(__file__).resolve().parents[1] / "flink_parameter_server_spark"
    offenders = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if p.relative_to(root).as_posix() != "operators/_util.py"
        and any(
            word in p.read_text()
            for word in ("ThreadPoolExecutor", "inheritable_thread_target", "FPS_ONLINE_PS_THREADED")
        )
    )
    assert offenders == []


def test_bid_store_lifecycle_only_in_bid_store():
    """The incremental stores write ``bid=<batch_id>`` dirs and start
    foreachBatch sinks in one place, streaming/bid_store.py, and stage
    compaction swaps only through fsutil.swap_in. Copies drift (one
    writer once skipped the flat-dir guard the other three ran)."""
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parents[1] / "flink_parameter_server_spark"
    streaming = root / "streaming"
    stores = sorted(streaming.glob("incremental_*.py")) + [streaming / "semantic_dedup.py"]
    bid_path = re.compile(r"""f["'][^"']*bid=\{""")
    assert len(stores) == 5
    assert [
        p.name for p in stores if bid_path.search(p.read_text()) or "foreachBatch(" in p.read_text()
    ] == []
    assert sorted(
        str(p.relative_to(root.parent))
        for p in [*root.rglob("*.py"), *(root.parent / "tools").rglob("*.py")]
        if p.name != "fsutil.py" and "_compacting" in p.read_text()
    ) == []
