"""Decoupled worker<->server transport over file-queue "topics" —
the A10 Kafka-transport stand-in.

Reference analog (SURVEY.md §0 citation convention): `.../ps/kafka/`
[C-low] routes `WorkerToPS` / `PSToWorker` messages through Kafka topics
instead of the in-job iteration edge, so the parameter server can run as
a SEPARATE job from the workers. The container has no Kafka broker, so
the topic here is its file-system dual: an append-only directory of
parquet files, produced by one job and consumed by another through
Spark's file-streaming source (which gives the same at-least-once,
in-order-per-file semantics a Kafka partition would). Swapping in real
Kafka is a two-line change: ``readStream.format("kafka")`` /
``writeStream.format("kafka")`` on the same message schema.

Message schema mirrors the reference's entities (`.../ps/entities/`
[C-high]):

- worker->server topic: ``(kind 'pull'|'push', worker_partition,
  param_id, delta array<double>)`` — Pull(id) has a null delta.
- server->worker topic: ``(worker_partition, param_id, value
  array<double>, batch_id)`` — the PullAnswer, partitioned back to the
  requesting worker exactly like the reference's PSToWorker routing.

The server job is a Structured Streaming query over the worker topic:
each micro-batch folds its pushes into the (driver-held, DataFrame)
server state via the SAME BatchParameterServer kernel the in-job form
uses, then answers that batch's pulls against the post-fold state —
i.e. per-batch message processing order, matching the reference's
server loop at message-batch granularity. Rows-only surface (sequential
fold order is engine-dependent); record-for-record equivalence against
the in-job kernel is tested in tests/test_transport.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..ps.kernel import BatchParameterServer, InitFn

W2S_SCHEMA = StructType(
    [
        StructField("kind", StringType()),
        StructField("worker_partition", LongType()),
        StructField("param_id", LongType()),
        StructField("delta", ArrayType(DoubleType())),
    ]
)

S2W_SCHEMA = StructType(
    [
        StructField("worker_partition", LongType()),
        StructField("param_id", LongType()),
        StructField("value", ArrayType(DoubleType())),
        StructField("batch_id", LongType()),
    ]
)


class FileQueueTransport:
    """One worker->server topic and one server->worker topic under `root`."""

    def __init__(self, root: str) -> None:
        self.w2s = os.path.join(root, "topic_w2s")
        self.s2w = os.path.join(root, "topic_s2w")
        self.checkpoint = os.path.join(root, "_server_chk")
        os.makedirs(self.w2s, exist_ok=True)

    # -- worker side --------------------------------------------------------
    def send(self, messages: DataFrame, file_tag: str) -> None:
        """Produce one message file (= one unit of arrival order) onto the
        worker->server topic. A Kafka producer's topic-append dual.

        Arrival order is ENFORCED, not hoped for: Spark's file source
        orders files by modification time, whose filesystem granularity
        can be a full second — two sends inside one tick would have
        unspecified relative order. Each send therefore stamps its files
        (via utime) strictly later than every file already on the topic,
        i.e. an explicit monotonic sequence encoded in the mtime the
        source already sorts by."""
        # stage -> stamp -> publish: writing straight to the live dir
        # left a window where part-files were visible with natural
        # wallclock mtimes BEFORE the stamp, which sorts them before
        # already-stamped files once the stamp clock runs ahead — a
        # listing shift the fpsqueue offset-boundary check (r8) rightly
        # raises on. The '_'-prefixed staging dir is invisible to both
        # the builtin file source and _topic_files until the rename.
        target = os.path.join(self.w2s, f"msgs_{file_tag}")
        staging = os.path.join(self.w2s, f"_staged_msgs_{file_tag}")
        messages.select("kind", "worker_partition", "param_id", "delta").coalesce(
            1
        ).write.mode("overwrite").parquet(staging)
        latest = 0.0
        for entry in os.scandir(self.w2s):
            if entry.is_dir() and not entry.name.startswith(("_", ".")):
                for f in os.scandir(entry.path):
                    latest = max(latest, f.stat().st_mtime)
        stamp = max(latest + 2.0, os.stat(staging).st_mtime)
        for f in os.scandir(staging):
            os.utime(f.path, (stamp, stamp))
        if os.path.isdir(target):
            import shutil

            shutil.rmtree(target)  # mode("overwrite") semantics preserved
        os.rename(staging, target)

    def pulls(self, keys: DataFrame, worker_partition: int = 0) -> DataFrame:
        return keys.select(
            F.lit("pull").alias("kind"),
            F.lit(worker_partition).cast("long").alias("worker_partition"),
            F.col("param_id"),
            F.lit(None).cast("array<double>").alias("delta"),
        )

    def pushes(self, deltas: DataFrame, worker_partition: int = 0) -> DataFrame:
        return deltas.select(
            F.lit("push").alias("kind"),
            F.lit(worker_partition).cast("long").alias("worker_partition"),
            F.col("param_id"),
            F.col("delta"),
        )

    # -- server side --------------------------------------------------------
    def run_server(
        self,
        spark: SparkSession,
        init_fn: InitFn,
        params: DataFrame | None = None,
    ) -> BatchParameterServer:
        """The decoupled parameter-server job: consume the worker topic
        through Spark's builtin file source, one message file per
        micro-batch (Kafka-partition-like arrival granularity, with exact
        admission control on restart too), fold pushes, answer pulls onto
        the server->worker topic. Runs availableNow (drains the topic,
        then stops) and returns the server holding the final model,
        exactly like `ParameterServerLogic.close -> output`. The native
        ``format("fpsqueue")`` source (sources/fps_queue.py) remains the
        reader/writer API over the same topics.

        ``params`` seeds the server state (A6 transformWithModelLoad
        composed with the transport): a restarted incarnation resumes
        from the checkpointed source offsets AND the previous model —
        pass the prior run's ``server.params`` (or a
        ``BatchParameterServer.load`` read of a dumped model). Without
        it a restart holds offsets but starts model-fresh, silently
        dropping previously folded pushes."""
        ps = BatchParameterServer(init_fn=init_fn, params=params)
        s2w = self.s2w

        def serve(batch_df: DataFrame, batch_id: int) -> None:
            # one probe job per batch, not one per message kind
            kinds = {r["kind"] for r in batch_df.select("kind").distinct().collect()}
            if "push" in kinds:
                ps.push(batch_df.where(F.col("kind") == "push").select("param_id", "delta"))
            if "pull" in kinds:
                pulls = batch_df.where(F.col("kind") == "pull").select(
                    "worker_partition", "param_id"
                )
                answers = ps.pull(pulls).select(
                    "worker_partition",
                    "param_id",
                    "value",
                    F.lit(batch_id).cast("long").alias("batch_id"),
                )
                # idempotent per-batch dir: a replayed batch overwrites itself
                answers.write.mode("overwrite").parquet(f"{s2w}/bid={batch_id}")

        stream = (
            spark.readStream.schema(W2S_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(self.w2s, "*"))
        )
        q = (
            stream.writeStream.foreachBatch(serve)
            .option("checkpointLocation", self.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return ps

    # -- worker side again --------------------------------------------------
    def answers(self, spark: SparkSession) -> DataFrame:
        """Consume the server->worker topic (the PullAnswer stream).
        A push-only run writes no answers — that's an empty stream, not
        a read error."""
        if not os.path.isdir(self.s2w):
            return spark.createDataFrame([], S2W_SCHEMA)
        # normalize to the declared schema: the bid=<N> layout partition-
        # discovers an extra `bid` column, and without this select a
        # push-only topic (empty fallback above) and a real read would
        # return structurally different frames
        return spark.read.parquet(self.s2w).select(
            *[F.col(f.name).cast(f.dataType) for f in S2W_SCHEMA.fields]
        )
