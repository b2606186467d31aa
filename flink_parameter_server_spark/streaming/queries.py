"""Registered driver-surface queries for the streaming layer.

Windowed streaming forms are correctness-checked in tests against their
oracle-checked batch duals (operators/windows.py); registering a full
stream execution per driver run would only re-run those. The one thing
with no batch dual — true per-record sequential PS semantics (A1/B1
online, D21) — is registered rows-only here.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import functions as F

from ..operators._util import overlap
from ..operators.windows import SESSION_GAP_US
from ..plans.registry import register
from ..ps import mf


@register(
    "streaming_sessions",
    oracle=f"""
WITH o AS (
  SELECT user_id, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
), m AS (
  SELECT user_id, us,
         CASE WHEN prev IS NULL OR us - prev > {SESSION_GAP_US} THEN 1 ELSE 0 END AS brk
  FROM o
), s AS (
  SELECT user_id, us,
         sum(brk) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
), sess AS (
  SELECT user_id, sid, min(us) AS session_start_us, count(*) AS n_events,
         max(us) - min(us) AS dur_us, max(us) AS last_us,
         max(sid) OVER (PARTITION BY user_id) AS max_sid
  FROM s GROUP BY user_id, sid
), mx AS (SELECT max(epoch_us(ts)) AS max_us FROM events)
SELECT 'builtin' AS impl, user_id, session_start_us, n_events, dur_us,
       CAST(NULL AS VARCHAR) AS close_reason
FROM sess
UNION ALL
SELECT 'timeout_state' AS impl, user_id, session_start_us, n_events, dur_us,
       CASE WHEN sid < max_sid THEN 'data' ELSE 'timeout' END AS close_reason
FROM sess, mx
WHERE sid < max_sid
   OR last_us // 1000 + {SESSION_GAP_US // 1000} < max_us // 1000 - 3600000
""",
    tags=("D18", "D21", "D2"),
    doc="D18 + D21's state-timeout facet, both as REAL streams in one "
    "query discriminated by `impl` (consolidated from "
    "streaming_session_windows / streaming_session_timeout; both "
    "sessionize the same event stream by the same 30-min gap). "
    "'builtin': F.session_window on keyed state, materialized sink "
    "checked against the lag+cumsum island oracle. 'timeout_state': "
    "custom sessionization on applyInPandasWithState with "
    "GroupStateTimeout.EventTimeTimeout — sessions close either when a "
    "same-user event arrives past the gap ('data') or when the "
    "watermark passes last+gap in the trailing no-data micro-batch "
    "('timeout'); final sessions the watermark never reaches stay open "
    "and are unreported, so the oracle tags non-final islands 'data' "
    "and final islands 'timeout' only when last+gap < max_ts - 1h (the "
    "final watermark, ms-truncated exactly as Spark tracks it).",
)
def streaming_sessions(spark, sf_dir):
    from .sinks import session_timeout_stream
    from .windows import run_to_memory, session_windows_stream

    # serial: the two sessionizers are independent availableNow stream
    # runs (own sinks/checkpoints, same read-only source), but
    # overlapping them on driver threads ran 9 % faster at 4 cores
    # (tools/ab.py warm rep, sf0.1, 10 pairs), under the 10 % an overlap
    # must earn
    def _builtin():
        return run_to_memory(
            session_windows_stream(spark, sf_dir), f"stq_sess_{uuid.uuid4().hex[:8]}"
        ).select(
            F.lit("builtin").alias("impl"),
            "user_id",
            "session_start_us",
            "n_events",
            "dur_us",
            F.lit(None).cast("string").alias("close_reason"),
        )

    def _custom():
        return run_to_memory(
            session_timeout_stream(spark, sf_dir), f"stq_sesstmo_{uuid.uuid4().hex[:8]}"
        ).select(
            F.lit("timeout_state").alias("impl"),
            "user_id",
            "session_start_us",
            "n_events",
            "dur_us",
            "close_reason",
        )

    return _builtin().unionByName(_custom())


@register(
    "streaming_agg_sinks",
    oracle="""
SELECT 'window_memory' AS sink, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       event_type, count(*) AS n, CAST(NULL AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2, 3
UNION ALL
SELECT 'upsert_files' AS sink, CAST(NULL AS VARCHAR) AS day, event_type,
       count(*) AS n,
       round(CAST(sum(CAST(CASE WHEN isfinite(CAST(value AS DOUBLE)) THEN value END AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
FROM events GROUP BY 1, 2, 3
""",
    tags=("D17", "D2"),
    doc="Streaming aggregation through two sink paths in one query "
    "discriminated by `sink` (consolidated from streaming_tumbling_daily "
    "/ streaming_upsert_sink). 'window_memory': D17 as a REAL stream "
    "(readStream -> watermark -> tumbling window agg -> memory sink, "
    "availableNow) — incremental execution must reproduce the batch "
    "answer. 'upsert_files': the D2 exactly-once file-sink pattern — "
    "update-mode aggregate, foreachBatch writes each micro-batch's "
    "updated rows to a directory keyed by batch id (a replayed batch "
    "overwrites the same directory, so retries are idempotent), readers "
    "resolve last-write-wins per key by max batch id; the latest update "
    "per key must equal the full-data aggregate regardless of "
    "micro-batching.",
)
def streaming_agg_sinks(spark, sf_dir):
    from .sinks import foreachbatch_upsert
    from .windows import run_to_memory, tumbling_daily_stream

    # guide §2.6: the memory-sink window stream and the foreachBatch
    # upsert stream are independent availableNow runs — overlap them on
    # driver threads (the foreachBatch sink's scoped checkpointing is
    # concurrency-safe by design, scratch.py).
    # 4 cores, sf0.1 (tools/ab.py warm rep, 5 pairs): serial 2.81 s -> 2.21 s.
    def _window():
        return run_to_memory(
            tumbling_daily_stream(spark, sf_dir), f"stq_tumb_{uuid.uuid4().hex[:8]}"
        ).select(
            F.lit("window_memory").alias("sink"),
            "day",
            "event_type",
            "n",
            F.lit(None).cast("double").alias("total_value"),
        )

    def _upsert():
        return foreachbatch_upsert(spark, sf_dir).select(
            F.lit("upsert_files").alias("sink"),
            F.lit(None).cast("string").alias("day"),
            "event_type",
            "n",
            "total_value",
        )

    window_part, upsert_part = overlap(spark, _window, _upsert)
    return window_part.unionByName(upsert_part)


@register(
    "streaming_purchase_attribution",
    oracle="""
WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
c AS (SELECT event_id AS click_id, user_id, ts AS c_ts FROM events WHERE event_type = 'click'),
j AS (
  SELECT p.purchase_id, c.click_id, p.user_id,
         epoch_us(p.p_ts) - epoch_us(c.c_ts) AS gap_us, epoch_us(p.p_ts) AS p_us
  FROM p LEFT JOIN c
    ON p.user_id = c.user_id AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
),
wm AS (
  SELECT least(max(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) // 1000 - 3600000,
               max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) // 1000 - 7200000) AS wm_ms
  FROM events
)
SELECT purchase_id, click_id, user_id, gap_us
FROM j, wm
WHERE click_id IS NOT NULL OR p_us // 1000 < wm_ms
""",
    tags=("D17", "D21"),
    doc="Stream-stream interval join executed as a REAL two-stream job, "
    "now LEFT OUTER (r3): both sides watermarked, state bounded by "
    "interval+delay; matched rows are the inner result, and a purchase "
    "with no qualifying click emits one null-click row once the global "
    "(min-policy) watermark passes p_ts — the latest possible matching "
    "click has c_ts == p_ts, so eviction proves no match can arrive. "
    "The oracle replays that boundary exactly: null rows appear iff "
    "p_ts (ms-truncated, as Spark tracks watermarks) is below "
    "min(max purchase ts - 1h, max click ts - 2h); purchases newer "
    "than the final watermark stay in state, unreported.",
)
def streaming_purchase_attribution(spark, sf_dir):
    from .joins import purchase_click_attribution_stream
    from .windows import run_to_memory

    name = f"stq_attr_{uuid.uuid4().hex[:8]}"
    return run_to_memory(
        purchase_click_attribution_stream(spark, sf_dir, how="leftOuter"), name
    )


def _run_instance_stream(spark, src_df, build_stream, prefix: str, out_cols):
    """Write src_df as a single-file parquet source, stream it through
    build_stream with an availableNow trigger into a memory sink, return
    the materialized table projected to out_cols."""
    tmp = tempfile.mkdtemp(prefix=prefix)
    name = f"{prefix}{uuid.uuid4().hex[:8]}"
    src_df.coalesce(1).write.parquet(f"{tmp}/src")
    stream = spark.readStream.schema(src_df.schema).parquet(f"{tmp}/src")
    q = (
        build_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).select(*out_cols)


@register(
    "streaming_static_enrich",
    oracle="""
SELECT c_mktsegment AS segment, event_type, count(*) AS n,
       round(CAST(sum(CAST(CASE WHEN isfinite(CAST(value AS DOUBLE)) THEN value END AS DECIMAL(18,6))) AS DOUBLE), 6) + 0.0 AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
""",
    tags=("D17", "D4"),
    doc="Stream-static join executed as a REAL stream: event stream "
    "enriched with the static customer dimension (broadcast per "
    "micro-batch, no join state), complete-mode aggregate per "
    "(segment, event_type) checked against the batch-join oracle.",
)
def streaming_static_enrich(spark, sf_dir):
    from .joins import stream_static_enrich
    from .windows import run_to_memory

    name = f"stq_enrich_{uuid.uuid4().hex[:8]}"
    return run_to_memory(stream_static_enrich(spark, sf_dir), name)


@register(
    "online_ps_sequential",
    oracle=None,
    tags=("A1", "B1", "B8", "D21", "A7"),
    doc="The faithful per-record sequential PS loop on keyed streaming "
    "state (applyInPandasWithState), both algorithm families in one "
    "rows-only query discriminated by `family` (consolidated from "
    "online_mf_sequential / pa_online_sequential). 'mf': ratings stream "
    "keyed by item, per-record sequential SGD against co-located value "
    "state — the faithful form of the reference's cyclic PS loop "
    "(FlinkParameterServer#transform + PSOnlineMatrixFactorization "
    "[C-high]); rows = (item, dim) factor components. 'pa': PA-I binary "
    "training, instances in seq order, per-record margin/tau/update "
    "against the CURRENT weights (PassiveAggressiveParameterServer"
    "#transformBinary [C-high]) — the trajectory the batch trainers "
    "approximate with mini-batch epochs; deterministic order forces the "
    "psParallelism=1 trajectory (see online_ps docstrings). Not "
    "SQL-expressible -> rows-only; numerics verified record-for-record "
    "against driver-side sequential references in "
    "tests/test_streaming.py.",
)
def online_ps_sequential(spark, sf_dir):
    from ..ps import pa
    from .online_ps import K, online_mf_stream, online_pa_stream

    # r16: the r15 driver-thread overlap of the two streams (c8e1f46)
    # REGRESSED under the driver's cold-process bench (4.55 -> 9.47 s at
    # 32 cores, 8-core reps consistent) even though the warm in-process
    # A/B showed a win: two concurrent pandas-UDF availableNow streams
    # each spin their own Python worker pool + state stores against
    # ~19k groups/batch, and cold-process worker spin-up contention
    # exceeds the overlap. The streams now run back-to-back again; the
    # r15 vectorized per-group hot path (1c75f74) stays — it is
    # independently sound and semantics-identical.
    def _mf_run():
        # --- MF: per-record SGD on item-keyed state
        ratings = (
            mf.ratings(spark, sf_dir)
            .where(F.col("user") % 10 == 0)
            .withColumn("seq", F.monotonically_increasing_id())
            .select("seq", "user", "item", "rating")
        )
        # NOTE: no shuffle-partition clamp here — the per-record Python
        # SGD loop is CPU-bound per key, so it wants the full task
        # parallelism (unlike the pure-JVM stateful windows, where extra
        # state stores are overhead at test scale).
        tmp = tempfile.mkdtemp(prefix="fps_online_mf_")
        name = f"online_mf_{uuid.uuid4().hex[:8]}"
        ratings.coalesce(1).write.parquet(f"{tmp}/src")
        stream = spark.readStream.schema(ratings.schema).parquet(f"{tmp}/src")
        q = (
            online_mf_stream(spark, stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        mf_wide = spark.table(name)
        return (
            mf_wide.select(
                "item",
                "n_updates",
                F.posexplode(F.array(*[F.col(f"f{j}") for j in range(K)])).alias("dim", "v"),
            )
            .select(
                F.lit("mf").alias("family"),
                F.col("item").alias("key"),
                F.col("dim").cast("long").alias("dim"),
                F.round("v", 6).alias("value"),
                "n_updates",
            )
        )

    def _pa_run():
        # --- PA: per-record PA-I on a single model key
        inst = (
            pa.instances(spark, sf_dir)
            .where(F.col("row_id") % 4 == 0)
            .select(
                F.col("row_id").alias("seq"),
                F.lit(0).cast("long").alias("model_id"),
                "y",
                "x",
            )
        )
        out = _run_instance_stream(
            spark, inst, lambda s: online_pa_stream(spark, s), "fps_online_pa_",
            ["model_id", "n_updates", "feat_id", "w"],
        )
        return out.select(
            F.lit("pa").alias("family"),
            F.col("feat_id").alias("key"),
            F.lit(0).cast("long").alias("dim"),
            F.round(F.col("w"), 6).alias("value"),
            "n_updates",
        )

    mf_part = _mf_run()
    pa_part = _pa_run()
    return mf_part.unionByName(pa_part)
