"""fpsqueue Python Data Source (sources/fps_queue.py): the native-API
consumer/producer for the A10 file-queue topics.

Pins: batch read; incremental stream offsets with checkpoint-restart
exactly-once; the stream writer's arrival-order append; and parity with
the transport's own topic format (a FileQueueTransport-produced topic
read through fpsqueue yields the same messages in the same stamped
order the builtin file source sees)."""

from __future__ import annotations

import os
import tempfile

import pytest

from flink_parameter_server_spark.sources.fps_queue import register
from flink_parameter_server_spark.streaming.transport import FileQueueTransport

DDL = "k long, v string"


@pytest.fixture()
def fpsq(spark):
    register(spark)
    return spark


def _produce(spark, topic, rows, tag):
    spark.createDataFrame(rows, DDL).coalesce(1).write.mode("overwrite").parquet(
        f"{topic}/msgs_{tag}"
    )


def test_batch_and_stream_offsets_with_restart(fpsq, spark, tmp_path):
    topic = str(tmp_path / "topic")
    chk = str(tmp_path / "chk")
    out = str(tmp_path / "out")
    _produce(spark, topic, [(1, "a"), (2, "b")], "1")
    _produce(spark, topic, [(3, "c")], "2")

    batch = spark.read.format("fpsqueue").option("path", topic).option("ddl", DDL).load()
    assert sorted((r.k, r.v) for r in batch.collect()) == [(1, "a"), (2, "b"), (3, "c")]

    def run_once():
        q = (
            spark.readStream.format("fpsqueue")
            .option("path", topic)
            .option("ddl", DDL)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    got = sorted((r.k, r.v) for r in spark.read.parquet(out).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]

    # restart from the same checkpoint with one new message: ONLY the new
    # file is consumed (offset = files-consumed count, Kafka-style)
    _produce(spark, topic, [(4, "d")], "3")
    run_once()
    got = sorted((r.k, r.v) for r in spark.read.parquet(out).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]  # no duplicates


def test_stream_writer_appends_in_arrival_order(fpsq, spark, tmp_path):
    src_topic = str(tmp_path / "src")
    dst_topic = str(tmp_path / "dst")
    _produce(spark, src_topic, [(1, "a")], "1")
    _produce(spark, src_topic, [(2, "b")], "2")
    q = (
        spark.readStream.format("fpsqueue")
        .option("path", src_topic)
        .option("ddl", DDL)
        .load()
        .writeStream.format("fpsqueue")
        .option("path", dst_topic)
        .option("ddl", DDL)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    back = spark.read.format("fpsqueue").option("path", dst_topic).option("ddl", DDL).load()
    assert sorted((r.k, r.v) for r in back.collect()) == [(1, "a"), (2, "b")]
    # committed files are mtime-ordered strictly AFTER one another
    files = sorted(
        (os.stat(os.path.join(dst_topic, f)).st_mtime, f)
        for f in os.listdir(dst_topic)
        if f.endswith(".parquet")
    )
    assert len(files) >= 1 and not any(f.startswith("_staged") for _, f in files)


def test_reads_real_transport_topic_in_stamped_order(fpsq, spark, tmp_path):
    """A topic produced by FileQueueTransport.send (with its monotonic
    utime stamping) must come back through fpsqueue in exactly the send
    order — the property the transport's server loop depends on."""
    from pyspark.sql import functions as F

    root = str(tmp_path / "transport")
    tr = FileQueueTransport(root)
    p1 = tr.pulls(spark.range(3).select(F.col("id").alias("param_id")))
    tr.send(p1, "first")
    d2 = tr.pushes(
        spark.range(2).select(
            F.col("id").alias("param_id"),
            F.array(F.lit(1.0), F.lit(2.0)).alias("delta"),
        )
    )
    tr.send(d2, "second")

    ddl = "kind string, worker_partition long, param_id long, delta array<double>"
    sdf = (
        spark.readStream.format("fpsqueue")
        .option("path", tr.w2s)
        .option("ddl", ddl)
        .load()
    )
    name = "fpsq_transport_mem"
    q = sdf.writeStream.format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(f"select * from {name}").collect()
    kinds = {r.kind for r in rows}
    assert kinds == {"pull", "push"} and len(rows) == 5
    # null deltas on pulls survive the arrow path
    assert all(r.delta is None for r in rows if r.kind == "pull")
    assert all(r.delta == [1.0, 2.0] for r in rows if r.kind == "push")


def test_send_stamps_after_flat_fpsqueue_files(fpsq, spark, tmp_path):
    """FileQueueTransport.send and the fpsqueue writers share one topic
    listing: a send after a batch-writer append (whose files sit flat
    at the topic root, not in a message dir) must stamp strictly after
    it. Sequence: send A, A restamped ahead of the wallclock, fpsqueue
    append B (stamped after A), send C — arrival order A, B, C."""
    import time

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from flink_parameter_server_spark.sources.fps_queue import _topic_files

    tr = FileQueueTransport(str(tmp_path / "transport"))

    def keys(pid):
        return spark.range(1).select(F.lit(pid).cast("long").alias("param_id"))

    tr.send(tr.pulls(keys(1)), "a")
    ahead = time.time() + 100.0
    for f in _topic_files(tr.w2s):
        os.utime(f, (ahead, ahead))
    tr.pulls(keys(2)).write.format("fpsqueue").option("path", tr.w2s).mode("append").save()
    tr.send(tr.pulls(keys(3)), "c")
    order = [pq.read_table(f).column("param_id").to_pylist() for f in _topic_files(tr.w2s)]
    assert order == [[1], [2], [3]]


def test_offset_boundary_contract_violation_raises(fpsq, spark, tmp_path):
    """ADVICE r7: positional offsets are only stable under the
    producer's monotonic-utime contract. The offset JSON pins the
    boundary file's (mtime, relpath); if a contract-breaking producer
    re-orders the listing between latestOffset and partitions, the
    slice RAISES instead of silently skipping/replaying files."""
    from flink_parameter_server_spark.sources.fps_queue import (
        FPSQueueStreamReader,
        _topic_files,
    )

    topic = str(tmp_path / "topic")
    _produce(spark, topic, [(1, "a")], "1")
    _produce(spark, topic, [(2, "b")], "2")
    # stamp an explicit arrival order: f1 before f2
    files = _topic_files(topic)
    for i, f in enumerate(files):
        os.utime(f, (1000.0 + i, 1000.0 + i))

    reader = FPSQueueStreamReader(topic, None, None)
    start = reader.initialOffset()
    end = reader.latestOffset()
    assert end["n"] == 2 and "last" in end

    # contract violation: the boundary file's arrival stamp changes
    # (an un-stamped producer rewriting mtimes), re-ordering the listing
    last_file = _topic_files(topic)[-1]
    os.utime(last_file, (10.0, 10.0))  # now sorts FIRST, not last

    with pytest.raises(ValueError, match="boundary mismatch"):
        reader.partitions(start, end)

    # clean listing (re-stamped to match the recorded boundary) slices fine
    os.utime(last_file, (1001.0, 1001.0))
    parts = reader.partitions(start, end)
    assert len(parts) == 2


def test_batch_writer_appends_in_arrival_order(fpsq, spark, tmp_path):
    """r8: the batch producer — df.write.format('fpsqueue') appends
    topic messages that land AFTER everything already on the topic in
    stamped arrival order; repeated saves append (never clobber), and
    overwrite mode is rejected (topics are append-only)."""
    topic = str(tmp_path / "topic")
    _produce(spark, topic, [(1, "a")], "1")

    df2 = spark.createDataFrame([(2, "b"), (3, "c")], DDL)
    df2.write.format("fpsqueue").option("path", topic).mode("append").save()
    df3 = spark.createDataFrame([(4, "d")], DDL)
    df3.write.format("fpsqueue").option("path", topic).mode("append").save()

    got = (
        spark.read.format("fpsqueue").option("path", topic).option("ddl", DDL).load()
    )
    assert sorted((r.k, r.v) for r in got.collect()) == [
        (1, "a"), (2, "b"), (3, "c"), (4, "d"),
    ]
    # arrival order: the second save's files are stamped after the first's
    from flink_parameter_server_spark.sources.fps_queue import _topic_files_meta

    meta = _topic_files_meta(topic)
    assert meta == sorted(meta)
    assert "send_" in meta[-1][1] and meta[-1][0] > meta[0][0]

    with pytest.raises(Exception, match="append-only"):
        df3.write.format("fpsqueue").option("path", topic).mode("overwrite").save()
