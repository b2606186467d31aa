"""Streaming forms: each stream must reproduce its batch dual, and the
online PS must match a sequential reference implementation."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from flink_parameter_server_spark.operators._util import t
from flink_parameter_server_spark.streaming.windows import (
    dedup_stream,
    run_to_memory,
    session_windows_stream,
    stream_events,
    tumbling_daily_stream,
)
from tests.conftest import SF_SMALL


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_tumbling_stream_matches_batch(spark):
    got = run_to_memory(tumbling_daily_stream(spark, SF_SMALL), "t_tumbling")
    batch = (
        t(spark, SF_SMALL, "events")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"), "event_type", "n")
    )
    assert _rows(got) == _rows(batch)


def test_stream_events_reads_utc_adjusted_micros_fixture(spark, tmp_path):
    """Advisor r5: if a fixture regen writes ts as UTC-adjusted micros
    (dtype 'timestamp' — the case load_table already handles), the
    streaming schema must declare TimestampType: parquet refuses to read
    an isAdjustedToUTC column under an NTZ declaration, so the blanket
    NTZ mapping broke streaming while batch worked. Build such a fixture
    and prove stream == batch over it."""
    import glob
    import shutil

    src = t(spark, SF_SMALL, "events").limit(500)
    stage = str(tmp_path / "stage")
    old = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        src.withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.parquet(stage)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", old)
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    shutil.copy(glob.glob(f"{stage}/part-*.parquet")[0], sf_dir / "events.parquet")

    assert dict(spark.read.parquet(str(sf_dir / "events.parquet")).dtypes)["ts"] == "timestamp"
    got = run_to_memory(tumbling_daily_stream(spark, str(sf_dir)), "t_utc_micros")
    batch = (
        t(spark, str(sf_dir), "events")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"), "event_type", "n")
    )
    assert _rows(got) == _rows(batch)


def test_session_stream_matches_batch(spark):
    got = run_to_memory(session_windows_stream(spark, SF_SMALL), "t_session")
    batch = (
        t(spark, SF_SMALL, "events")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.min(F.unix_micros("ts")).alias("session_start_us"),
            F.count(F.lit(1)).alias("n_events"),
            (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))).alias("dur_us"),
        )
        .select("user_id", "session_start_us", "n_events", "dur_us")
    )
    assert _rows(got) == _rows(batch)


def test_dedup_stream_keeps_one_per_key(spark):
    got = run_to_memory(dedup_stream(spark, SF_SMALL), "t_dedup")
    batch_keys = t(spark, SF_SMALL, "events").select("user_id", "event_type").distinct()
    assert got.count() == batch_keys.count()
    assert got.select("user_id", "event_type").distinct().count() == got.count()


def test_rate_limited_stream_processes_everything(spark):
    # A7 analog: maxFilesPerTrigger bounds per-batch work without data loss
    ev = stream_events(spark, SF_SMALL, max_files_per_trigger=1)
    got = run_to_memory(
        ev.withWatermark("ts", "1 hour").groupBy("event_type").agg(F.count(F.lit(1)).alias("n")),
        "t_rate",
    )
    batch = t(spark, SF_SMALL, "events").groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    assert _rows(got) == _rows(batch)


def test_stream_stream_interval_join_matches_batch(spark):
    from flink_parameter_server_spark.streaming.joins import (
        purchase_click_attribution_stream,
    )

    got = run_to_memory(purchase_click_attribution_stream(spark, SF_SMALL), "t_ssjoin")
    ev = t(spark, SF_SMALL, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    batch = p.join(
        c,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 hour")),
    ).select(
        "purchase_id", "click_id", "user_id",
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
    )
    assert _rows(got) == _rows(batch)
    assert batch.count() > 0


def test_drop_duplicates_within_watermark(spark):
    """D20's dropDuplicatesWithinWatermark: duplicates arriving within the
    watermark delay collapse to one row."""
    ev = stream_events(spark, SF_SMALL)
    doubled = ev.select("user_id", "event_type", "ts").union(
        ev.select("user_id", "event_type", "ts")
    )
    dedup = doubled.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "ts"]
    )
    got = run_to_memory(dedup, "t_ddww")
    want = t(spark, SF_SMALL, "events").select("user_id", "event_type", "ts").distinct()
    assert got.count() == want.count()


def test_session_timeout_multibatch_late_data(spark):
    """ADVICE r2: a key whose events arrive in a later micro-batch behind
    the watermark must not crash the query (timeout clamp to wm+1) and
    must EXTEND the session bounds, never shrink them (max/min merge).

    Late rows are NOT auto-filtered for applyInPandasWithState, so the
    un-clamped setTimeoutTimestamp(last+gap) would be behind the
    watermark here and throw IllegalArgumentException."""
    import pandas as pd

    from flink_parameter_server_spark.streaming.sinks import (
        SESS_OUT,
        SESS_STATE,
        _session_timeout_fn,
    )
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [StructField("user_id", LongType()), StructField("us", LongType())]
    )
    base = 1_700_000_000_000_000
    m = 60_000_000
    # batch 0: user 1 at t0 and t0+5m; watermark driver at t0+10h
    rows0 = [(1, base), (1, base + 5 * m), (99, base + 600 * m)]
    # batch 1: user 1 event at t0+10m — 8.8h BEHIND the batch-0 watermark,
    # still within user 1's 30-min gap; plus a fresh user 2 event
    rows1 = [(1, base + 10 * m), (2, base + 601 * m)]

    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(rows0, schema).coalesce(1).write.parquet(f"{tmp}/src/f0")
        spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(f"{tmp}/src/f1")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/src/*")
            .withColumn("ts", F.timestamp_micros(F.col("us")))
        )
        out = (
            stream.withWatermark("ts", "1 hour")
            .groupBy("user_id")
            .applyInPandasWithState(
                _session_timeout_fn,
                SESS_OUT,
                SESS_STATE,
                "append",
                GroupStateTimeout.EventTimeTimeout,
            )
        )
        q = (
            out.writeStream.format("memory")
            .queryName("t_sess_mb")
            .outputMode("append")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {r.user_id: r for r in spark.table("t_sess_mb").collect()}

    # user 1's session absorbed the late batch-1 event (n=3, dur=10m) and
    # closed by timeout once the watermark passed the clamped timestamp;
    # users 2/99 stay open (watermark never reaches last+gap) -> unreported
    assert set(got) == {1}
    s = got[1]
    assert (s.session_start_us, s.n_events, s.dur_us, s.close_reason) == (
        base,
        3,
        10 * m,
        "timeout",
    )


def test_session_timeout_fn_out_of_order_extends_bounds():
    """Unit-level: continuation events earlier in event time than state's
    last must min/max-merge the bounds (ADVICE r2 low)."""
    import pandas as pd

    from flink_parameter_server_spark.streaming.sinks import _session_timeout_fn

    class FakeState:
        def __init__(self, tup):
            self._t = tup
            self.exists = tup is not None
            self.hasTimedOut = False
            self.updated = None
            self.timeout = None

        @property
        def get(self):
            return self._t

        def update(self, t):
            self.updated = t

        def setTimeoutTimestamp(self, ts):
            self.timeout = ts

        def getCurrentWatermarkMs(self):
            return 10**15  # far ahead: forces the clamp branch too

        def remove(self):
            self._t = None

    m = 60_000_000
    st = FakeState((1000 * m, 1010 * m, 3))
    # one out-of-order event 5 min BEFORE the session start, within gap
    list(_session_timeout_fn((7,), iter([pd.DataFrame({"us": [995 * m]})]), st))
    start, last, n = st.updated
    assert (start, last, n) == (995 * m, 1010 * m, 4)
    assert st.timeout == 10**15 + 1  # clamped to watermark + 1


def test_session_timeout_fn_far_past_straggler_is_late_singleton():
    """A cross-batch straggler more than a gap BEFORE the open session's
    start can't be retroactively merged into its (already closed) island
    — it must emit as an immediately-closed 'late' singleton and leave
    the open session untouched (r3 review finding: the old gap test
    min/max-merged it into the current session, diverging from the
    sorted-island semantics)."""
    import pandas as pd

    from flink_parameter_server_spark.streaming.sinks import _session_timeout_fn

    class FakeState:
        def __init__(self, tup):
            self._t = tup
            self.exists = True
            self.hasTimedOut = False
            self.updated = None
            self.timeout = None

        @property
        def get(self):
            return self._t

        def update(self, t):
            self.updated = t

        def setTimeoutTimestamp(self, ts):
            self.timeout = ts

        def getCurrentWatermarkMs(self):
            return 0

        def remove(self):
            self._t = None

    m = 60_000_000
    st = FakeState((1000 * m, 1010 * m, 3))
    # straggler 40 min before session start (gap is 30 min)
    out = list(_session_timeout_fn((7,), iter([pd.DataFrame({"us": [960 * m]})]), st))
    assert st.updated == (1000 * m, 1010 * m, 3)  # open session untouched
    rows = pd.concat(out).to_dict("records")
    assert rows == [
        {
            "user_id": 7,
            "session_start_us": 960 * m,
            "n_events": 1,
            "dur_us": 0,
            "close_reason": "late",
        }
    ]


def test_session_timeout_state_survives_restart(spark):
    """Session state + watermark must recover from the checkpoint: two
    availableNow runs over incrementally arriving files emit the same
    closed sessions as one run over all files."""
    from flink_parameter_server_spark.streaming.sinks import (
        SESS_OUT,
        SESS_STATE,
        _session_timeout_fn,
    )
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [StructField("user_id", LongType()), StructField("us", LongType())]
    )
    base = 1_700_000_000_000_000
    m = 60_000_000
    # user 1: session A (t0, t0+5m), then a 40-min gap -> session B at
    # t0+45m (crosses the file boundary); watermark driver user 99
    rows0 = [(1, base), (1, base + 5 * m)]
    rows1 = [(1, base + 45 * m), (99, base + 300 * m)]

    def run(src, ckpt, out):
        stream = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withColumn("ts", F.timestamp_micros(F.col("us")))
        )
        q = (
            stream.withWatermark("ts", "1 hour")
            .groupBy("user_id")
            .applyInPandasWithState(
                _session_timeout_fn, SESS_OUT, SESS_STATE, "append",
                GroupStateTimeout.EventTimeTimeout,
            )
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(out)
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def rows_of(out):
        try:
            return sorted(
                (r.user_id, r.session_start_us, r.n_events, r.dur_us, r.close_reason)
                for r in spark.read.parquet(out).collect()
            )
        except Exception:
            return []  # no output written

    with tempfile.TemporaryDirectory() as tmp:
        # two-run path: file0, run, file1, run (same checkpoint)
        spark.createDataFrame(rows0, schema).coalesce(1).write.parquet(f"{tmp}/inc/f0")
        run(f"{tmp}/inc/*", f"{tmp}/ckpt_inc", f"{tmp}/out_inc")
        spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(f"{tmp}/inc/f1")
        run(f"{tmp}/inc/*", f"{tmp}/ckpt_inc", f"{tmp}/out_inc")
        # single-run path over all files at once (fresh checkpoint)
        spark.createDataFrame(rows0 + rows1, schema).coalesce(1).write.parquet(f"{tmp}/all/f")
        run(f"{tmp}/all/*", f"{tmp}/ckpt_all", f"{tmp}/out_all")

        got_inc, got_all = rows_of(f"{tmp}/out_inc"), rows_of(f"{tmp}/out_all")

    assert got_inc == got_all
    # session A closed (by data in the single-run case, by data-or-timeout
    # semantics equivalently in the incremental case), 2 events, 5 min
    assert (1, base, 2, 5 * m, "data") in got_inc or (1, base, 2, 5 * m, "timeout") in got_inc


def test_foreachbatch_upsert_multibatch_last_write_wins(spark):
    """D2 sink: with the source split across micro-batches, the max-bid
    resolution must still equal the full-data aggregate."""
    from flink_parameter_server_spark.operators._util import money_sum
    from pyspark.sql import Window

    ev = t(spark, SF_SMALL, "events")
    with tempfile.TemporaryDirectory() as tmp:
        # three source files -> three micro-batches with maxFilesPerTrigger=1
        ev.repartition(3).write.parquet(f"{tmp}/src")
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmp}/src")
        )
        agg = stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            money_sum(F.col("value")).alias("total_value"),
        )

        def sink(batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(f"{tmp}/out/bid={batch_id}")

        q = (
            agg.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/chk")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        upd = spark.read.parquet(f"{tmp}/out")
        assert upd.select("bid").distinct().count() > 1, "expected multiple batches"
        w = Window.partitionBy("event_type").orderBy(F.desc("bid"))
        got = (
            upd.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("event_type", "n", "total_value")
        )
        batch = ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            money_sum(F.col("value")).alias("total_value"),
        )
        assert _rows(got) == _rows(batch)


def test_online_mf_state_survives_restart(spark):
    """A1/D21: keyed state persists across query restarts — two availableNow
    runs over incrementally arriving files must equal one sequential pass
    over all records (the PS server state is durable, per the reference's
    long-running server operators)."""
    from flink_parameter_server_spark.ps import mf
    from flink_parameter_server_spark.streaming.online_ps import (
        K,
        online_mf_stream,
        sequential_reference,
    )

    ratings = (
        mf.ratings(spark, SF_SMALL)
        .limit(200)
        .withColumn("seq", F.monotonically_increasing_id())
        .select("seq", "user", "item", "rating")
    )
    rows = sorted((r.seq, r.user, r.item, r.rating) for r in ratings.collect())
    # split strictly by seq so "batch 1 then batch 2" equals the global order
    first, second = rows[:120], rows[120:]
    schema = ratings.schema

    with tempfile.TemporaryDirectory() as tmp:
        src, ckpt, out = f"{tmp}/src", f"{tmp}/ckpt", f"{tmp}/out"
        spark.createDataFrame(first, schema).coalesce(1).write.parquet(src)

        def run_batch():
            # foreachBatch sink: supports update-mode output AND checkpoint
            # recovery (memory sinks recover from neither)
            def sink(batch_df, batch_id):
                batch_df.withColumn("run_seq", F.lit(batch_id)).write.mode("append").parquet(out)

            stream = spark.readStream.schema(schema).parquet(src)
            q = (
                online_mf_stream(spark, stream)
                .writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_batch()
        spark.createDataFrame(second, schema).coalesce(1).write.mode("append").parquet(src)
        run_batch()
        # last emitted update per item (highest run_seq) = final state
        got = {}
        for r in spark.read.parquet(out).orderBy("run_seq").collect():
            got[r.item] = [r[f"f{j}"] for j in range(K)]

    want = sequential_reference(rows)
    assert set(got) == set(want)
    for item, vec in want.items():
        for a, b in zip(got[item], vec):
            assert abs(a - b) < 1e-9, f"item {item} diverged after restart"


def test_online_mf_matches_sequential_reference(spark):
    from flink_parameter_server_spark.ps import mf
    from flink_parameter_server_spark.streaming.online_ps import (
        K,
        online_mf_stream,
        sequential_reference,
    )

    ratings = (
        mf.ratings(spark, SF_SMALL)
        .limit(300)
        .withColumn("seq", F.monotonically_increasing_id())
        .select("seq", "user", "item", "rating")
    )
    rows = [(r.seq, r.user, r.item, r.rating) for r in ratings.collect()]

    with tempfile.TemporaryDirectory() as tmp:
        src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
        ratings.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(ratings.schema).parquet(src)
        out = online_mf_stream(spark, stream)
        q = (
            out.writeStream.format("memory")
            .queryName("t_online_mf")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {r.item: [r[f"f{j}"] for j in range(K)] for r in spark.table("t_online_mf").collect()}

    want = sequential_reference(rows)
    assert set(got) == set(want)
    for item, vec in want.items():
        for a, b in zip(got[item], vec):
            assert abs(a - b) < 1e-9, f"item {item}: {got[item]} != {vec}"


def test_online_pa_matches_sequential_reference(spark):
    """pa_online_sequential's keyed-state PA-I trajectory must equal the
    driver-side sequential reference record-for-record (VERDICT r1
    'What's missing' #2 — per-record fidelity for the reference's
    transformBinary)."""
    from flink_parameter_server_spark.ps import pa
    from flink_parameter_server_spark.streaming.online_ps import (
        online_pa_stream,
        pa_sequential_reference,
    )

    inst = (
        pa.instances(spark, SF_SMALL)
        .limit(200)
        .select(
            F.col("row_id").alias("seq"),
            F.lit(0).cast("long").alias("model_id"),
            "y",
            "x",
        )
    )
    rows = [(r.seq, r.y, list(r.x)) for r in inst.collect()]

    with tempfile.TemporaryDirectory() as tmp:
        src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
        inst.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(inst.schema).parquet(src)
        q = (
            online_pa_stream(spark, stream)
            .writeStream.format("memory")
            .queryName("t_online_pa")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = spark.table("t_online_pa").collect()

    want = pa_sequential_reference(rows)
    got = {r.feat_id: r.w for r in out}
    assert len(got) == len(want)
    assert all(r.n_updates == len(rows) for r in out)
    for f, wf in enumerate(want):
        assert abs(got[f] - wf) < 1e-9, f"feat {f}: {got[f]} != {wf}"


def _stream_files_in_order(spark, tmp, parts, schema, build):
    """Write each pandas frame of `parts` as one parquet file, later files
    with later mtimes, and stream them through `build` one file per
    micro-batch. Returns (rows each data batch emitted, the query)."""
    import os
    import time

    src = os.path.join(tmp, "src")
    os.makedirs(src)
    now = time.time()
    for i, part in enumerate(parts):
        path = os.path.join(src, f"part-{i}.parquet")
        part.to_parquet(path, index=False)
        os.utime(path, (now + i, now + i))  # file order = batch order
    batches = []
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        build(stream)
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, _bid: batches.append(df.collect()))
        .option("checkpointLocation", os.path.join(tmp, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return [b for b in batches if b], q


def test_online_mf_shards_span_batches(spark, tmp_path):
    """Several items share a shard, every item's records span both
    micro-batches and seq interleaves across items (files written out of
    seq order): each item still equals the sequential reference, each
    batch's n_updates counts that batch's records once, and the state
    holds one row per shard, not one per item."""
    import random

    import pandas as pd

    from flink_parameter_server_spark.streaming.online_ps import (
        K,
        SHARDS,
        online_mf_stream,
        sequential_reference,
    )

    # SHARDS + 1 items in shard 1, plus one item in each of shards 2 and 3
    items = [1 + k * SHARDS for k in range(SHARDS + 1)] + [2, 3]
    rng = random.Random(7)
    rows = [
        (seq, rng.randrange(1000), items[seq % len(items)], float(rng.randint(1, 5)))
        for seq in range(40)
    ]
    parts = [
        pd.DataFrame(rng.sample(part, len(part)), columns=["seq", "user", "item", "rating"])
        for part in (rows[:20], rows[20:])
    ]

    batches, q = _stream_files_in_order(
        spark, str(tmp_path), parts, "seq long, user long, item long, rating double",
        lambda s: online_mf_stream(spark, s),
    )

    assert [sum(r.n_updates for r in b) for b in batches] == [20, 20]
    got = {r.item: [r[f"f{j}"] for j in range(K)] for b in batches for r in b}
    want = sequential_reference(rows)
    assert set(got) == set(want)
    for item, vec in want.items():
        for a, b in zip(got[item], vec):
            assert abs(a - b) < 1e-9, f"item {item}: {got[item]} != {vec}"
    last = [p for p in q.recentProgress if p["numInputRows"]][-1]
    assert last["stateOperators"][0]["numRowsTotal"] <= SHARDS


def test_online_pa_two_batches_counts_cumulative(spark, tmp_path):
    """PA through the shared shard shell over two micro-batches: the
    weights equal the sequential reference and n_updates counts every
    record so far (cumulative), not the batch's records."""
    import pandas as pd

    from flink_parameter_server_spark.ps import pa
    from flink_parameter_server_spark.streaming.online_ps import (
        online_pa_stream,
        pa_sequential_reference,
    )

    rows = sorted((r.row_id, r.y, list(r.x)) for r in pa.instances(spark, SF_SMALL).limit(120).collect())
    parts = [
        pd.DataFrame(
            {"seq": [r[0] for r in part], "model_id": 0, "y": [r[1] for r in part], "x": [r[2] for r in part]}
        )
        for part in (rows[:50], rows[50:])
    ]

    batches, _q = _stream_files_in_order(
        spark, str(tmp_path), parts, "seq long, model_id long, y double, x array<double>",
        lambda s: online_pa_stream(spark, s),
    )

    assert [{r.n_updates for r in b} for b in batches] == [{50}, {len(rows)}]
    want = pa_sequential_reference(rows)
    got = {r.feat_id: r.w for r in batches[-1]}
    assert len(got) == len(want)
    for f, wf in enumerate(want):
        assert abs(got[f] - wf) < 1e-9, f"feat {f}: {got[f]} != {wf}"


def test_stream_shuffle_clamp_is_refcounted_under_concurrency(spark):
    """r16 (ADVICE r15): the clamp is a refcounted save/set-once,
    restore-on-last-exit — two overlapping clamp windows on one session
    (the streaming_sessions / streaming_agg_sinks shape) must both see
    the clamped value and always restore the original, under any
    interleaving."""
    import threading
    import time as _t

    from flink_parameter_server_spark.streaming.windows import (
        stream_shuffle_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    original = spark.conf.get(key)
    seen = []
    barrier = threading.Barrier(2)

    def run(delay_in, delay_out):
        barrier.wait()
        _t.sleep(delay_in)
        with stream_shuffle_partitions(spark):
            seen.append(spark.conf.get(key))
            _t.sleep(delay_out)

    # deliberately staggered: A enters first, B enters while A is
    # inside, A exits while B is still inside (the r15 race shape)
    ta = threading.Thread(target=run, args=(0.0, 0.3))
    tb = threading.Thread(target=run, args=(0.1, 0.5))
    ta.start(); tb.start(); ta.join(); tb.join()
    assert seen == ["8", "8"]  # both windows saw the clamp
    assert spark.conf.get(key) == original  # last exit restored

    # nested (same-thread) form
    with stream_shuffle_partitions(spark):
        assert spark.conf.get(key) == "8"
        with stream_shuffle_partitions(spark):
            assert spark.conf.get(key) == "8"
        assert spark.conf.get(key) == "8"  # inner exit must NOT restore
    assert spark.conf.get(key) == original
