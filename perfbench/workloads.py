"""The workloads. Each stages seeded inputs, warms up, runs timed
operations for a given number of seconds, then checks its outputs
outside the timed section. Every call into the engine goes through the
public functions of ``flink_parameter_server_spark``."""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from flink_parameter_server_spark import scratch
from flink_parameter_server_spark.ps import mf
from flink_parameter_server_spark.sources.tables import load_table
from flink_parameter_server_spark.streaming import online_ps
from flink_parameter_server_spark.streaming.transport import W2S_SCHEMA, FileQueueTransport

from . import inputs
from .stats import marginal, percentile
from .trace import ProgressListener, job_tag

TOL = 1e-9


class Result:
    """What a timed section produced: per-operation latencies, items
    completed, operations attempted and failed, and the timed wall."""

    def __init__(self) -> None:
        self.latencies_ms: list[float] = []
        self.items = 0
        self.attempted = 0
        self.failed = 0
        self.wall_s = 0.0


def factors(ids: np.ndarray, seed: int) -> np.ndarray:
    """numpy twin of ps.factors.factor_vector (same int64 hash)."""
    from flink_parameter_server_spark.functions.hashing import KNUTH, MOD

    js = np.arange(mf.K, dtype=np.int64)
    h = ((ids[:, None].astype(np.int64) + 1) * KNUTH + (js[None, :] + 1) * 40503 + seed * 97) % MOD
    return mf.FACTOR_LO + h / MOD * (mf.FACTOR_HI - mf.FACTOR_LO)


def storage_bytes(spark) -> int:
    """Bytes Spark's block manager holds for persisted RDDs right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, timer=None) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.timer = timer  # trace.CallTimer in the traced run, else None
        self.layers: dict[str, float] = {}  # per-layer metrics (traced run)
        self.notes: dict[str, float] = {}  # extra diagnostics for the stamp
        self.cached_bytes_peak = 0

    def note_storage(self) -> None:
        self.cached_bytes_peak = max(self.cached_bytes_peak, storage_bytes(self.spark))

    def kernel_layers(self, ops: int) -> None:
        """Per-operation driver-side call times from the wrapped kernel
        and checkpoint calls (traced run only)."""
        t = self.timer
        self.layers.update(
            {
                "ps.kernel.pull_call_ms": t.ms["pull"] / ops,
                "ps.kernel.push_call_ms": t.ms["push"] / ops,
                "ps.kernel.push_calls": t.calls["push"] / ops,
                "scratch.checkpoints": t.calls["checkpoint"] / ops,
                "scratch.checkpoint_ms": t.ms["checkpoint"] / ops,
                "scratch.cached_bytes_peak": float(self.cached_bytes_peak),
            }
        )

    def trace(self) -> None:
        """Traced run only, after the check: measure what the timed
        section could not without disturbing it."""

    def close(self) -> None:
        pass


def keep_going(t0: float, walls: list[float], seconds: float) -> bool:
    """Closed-loop window rule: at least one operation, then another only
    if it is expected to end within ``seconds`` of ``t0``."""
    if not walls:
        return True
    return time.perf_counter() - t0 + sum(walls) / len(walls) <= seconds


# ---------------------------------------------------------------------------
# ps_train: multi-epoch MF on the batch parameter-server kernel
# ---------------------------------------------------------------------------


class PsTrain(Workload):
    """Closed loop. Operation: ``ps.mf.train(spark, ratings, epochs=2)``
    then ``.count()``. Item: one rating in one epoch."""

    name = "ps_train"
    N_RATINGS, N_ITEMS, N_USERS, EPOCHS = 60_000, 20_000, 15_000, 2
    WARM_OPS = 2

    def setup(self) -> None:
        sf = os.path.join(self.work, "sf")
        inputs.stage_orders_lineitem(sf, self.seed, self.N_RATINGS, self.N_ITEMS, self.N_USERS)
        t0 = time.perf_counter()
        rows = sum(load_table(self.spark, sf, n).count() for n in ("orders", "lineitem"))
        self.layers["sources.scan_ms"] = (time.perf_counter() - t0) * 1e3
        self.layers["sources.rows"] = float(rows)
        orders = pq.read_table(os.path.join(sf, "orders.parquet")).to_pandas()
        lines = pq.read_table(os.path.join(sf, "lineitem.parquet")).to_pandas()
        self.users = orders["o_custkey"].to_numpy()[lines["l_orderkey"].to_numpy()]
        self.items = lines["l_partkey"].to_numpy()
        self.ratings = lines["l_quantity"].to_numpy()
        self.n_items = len(np.unique(self.items))
        # the user's rating frame, derived once and held in memory; the
        # operation is the training, not the fixture join under it
        self.r = mf.ratings(self.spark, sf).persist()
        self.r.count()
        self.warm_walls = [self._op(self.EPOCHS, label="warmup")[0] for _ in range(self.WARM_OPS)]

    def _op(self, epochs: int, label: str = "ps.kernel") -> tuple[float, int]:
        """One training, timed. Like a registry entry it releases the
        previous operation's scratch storage on entry, so the last model
        stays cached for the check."""
        t0 = time.perf_counter()
        scratch.release()
        with job_tag(self.spark, label):
            self.model = mf.train(self.spark, self.r, epochs=epochs)
            n = self.model.count()
        wall = time.perf_counter() - t0
        if self.timer is not None:
            self.note_storage()
        return wall, n

    def run(self, seconds: float) -> Result:
        res = Result()
        if self.timer is not None:
            self.timer.reset()
        t0 = time.perf_counter()
        walls: list[float] = []
        while keep_going(t0, walls, seconds):
            wall, n = self._op(self.EPOCHS)
            walls.append(wall)
            res.latencies_ms.append(wall * 1e3)
            res.attempted += 1
            if n == self.n_items:
                res.items += len(self.ratings) * self.EPOCHS
            else:
                res.failed += 1
        res.wall_s = time.perf_counter() - t0
        if self.timer is not None:
            self.kernel_layers(res.attempted)
        return res

    def replay(self) -> dict[int, np.ndarray]:
        """Epoch-synchronous SGD in numpy: every rating's error against the
        epoch-start item factors, summed deltas folded once per epoch."""
        uniq, inv = np.unique(self.items, return_inverse=True)
        V = factors(uniq, mf.ITEM_SEED)
        U = factors(self.users, mf.USER_SEED)
        for _ in range(self.EPOCHS):
            e = self.ratings - np.einsum("ij,ij->i", U, V[inv])
            delta = np.zeros_like(V)
            np.add.at(delta, inv, mf.LR * e[:, None] * U)
            V = V + delta
        return dict(zip(uniq.tolist(), V))

    def check(self) -> int:
        """The last timed operation's model equals the numpy replay."""
        rows = self.model.collect()
        scratch.release()
        want = self.replay()
        ok = len(rows) == len(want) and all(
            np.max(np.abs(np.asarray(row["value"]) - want[row["param_id"]])) <= TOL for row in rows
        )
        return 0 if ok else 1

    def trace(self) -> None:
        """Marginal wall of epochs 1, 2 and 3: one operation each at
        epochs = 1, 2 and 3, tagged apart from the timed ones."""
        walls = {n: self._op(n, label=f"ps_train.epochs{n}")[0] * 1e3 for n in (1, 2, 3)}
        scratch.release()
        for n, ms in marginal(walls).items():
            self.layers[f"ps.kernel.epoch{n}_ms"] = ms


# ---------------------------------------------------------------------------
# ps_serve: the same kernel behind the file-queue transport
# ---------------------------------------------------------------------------


class PsServe(Workload):
    """Closed loop of drains. Each drain runs
    ``FileQueueTransport.run_server`` over a freshly linked copy of the
    staged topic, one message file per micro-batch. Operation: one
    micro-batch (latency from the streaming listener). Item: one message."""

    name = "ps_serve"
    N_FILES, N_PUSH, N_PULL, N_KEYS = 5, 2000, 1000, 20_000

    def setup(self) -> None:
        self.listener = ProgressListener()
        self.spark.streams.addListener(self.listener)
        self.tables = inputs.message_tables(
            self.seed, self.N_FILES, self.N_PUSH, self.N_PULL, self.N_KEYS, mf.K
        )
        self.topic = os.path.join(self.work, "topic", "topic_w2s")
        inputs.stage_topic(self.topic, self.tables, base_mtime=time.time() - 4.0 * self.N_FILES)
        t0 = time.perf_counter()
        rows = self.spark.read.schema(W2S_SCHEMA).parquet(os.path.join(self.topic, "*")).count()
        self.layers["sources.scan_ms"] = (time.perf_counter() - t0) * 1e3
        self.layers["sources.rows"] = float(rows)
        self.n_drains = 0
        self.groups: dict[str, str] = {}  # streaming run id -> label
        self.answer_dirs: list[str] = []
        # one whole cold drain (its 5th push checkpoints)
        self.warm_walls = [self._drain("warmup")[0]]

    def _drain(self, label: str = "streaming.transport"):
        """One run_server drain over a new root holding the staged files;
        returns (wall s, batch progress reports, server)."""
        root = os.path.join(self.work, f"drain{self.n_drains}")
        self.n_drains += 1
        w2s = os.path.join(root, "topic_w2s")
        for name in sorted(os.listdir(self.topic)):
            os.makedirs(os.path.join(w2s, name))
            os.link(
                os.path.join(self.topic, name, "part-00000.parquet"),
                os.path.join(w2s, name, "part-00000.parquet"),
            )
        transport = FileQueueTransport(root)
        scratch.release()
        known = set(self.listener.terminated)
        t0 = time.perf_counter()
        server = transport.run_server(self.spark, init_fn=mf.item_vec)
        wall = time.perf_counter() - t0
        qid = self.listener.wait_terminated_new(known)
        self.groups[self.listener.run_ids[qid]] = label
        if self.timer is not None:
            self.note_storage()
        self.answer_dirs.append(transport.s2w)
        return wall, self.listener.batches(qid), server

    def run(self, seconds: float) -> Result:
        res = Result()
        if self.timer is not None:
            self.timer.reset()
        self.answer_dirs = []
        self.batches: list[dict] = []
        t0 = time.perf_counter()
        walls: list[float] = []
        while keep_going(t0, walls, seconds):
            wall, batches, self.server = self._drain()
            walls.append(wall)
            res.wall_s += wall
            self.batches += batches
            for b in batches:
                res.latencies_ms.append(float(b["duration_ms"]["triggerExecution"]))
                res.items += b["num_input_rows"]
            res.attempted += len(batches)
        if self.timer is not None:
            self.kernel_layers(res.attempted)
            adds = [float(b["duration_ms"].get("addBatch", 0)) for b in self.batches]
            self.layers["streaming.transport.batch_ms_p50"] = percentile(res.latencies_ms, 50)
            self.layers["streaming.transport.add_batch_ms_p50"] = percentile(adds, 50)
        return res

    def check(self) -> int:
        """Every drain answered every pull; the last drain's final params
        equal init + the sum of all pushes per key."""
        failed = 0
        want_answers = self.N_PULL * self.N_FILES
        for d in self.answer_dirs:
            got = sum(pq.read_table(os.path.join(d, b)).num_rows for b in os.listdir(d) if b.startswith("bid="))
            failed += got != want_answers
        sums: dict[int, np.ndarray] = {}
        for t in self.tables:
            pushes = t.filter(pa.compute.equal(t["kind"], "push"))
            for key, delta in zip(pushes["param_id"].to_numpy(), pushes["delta"].to_pylist()):
                sums[int(key)] = sums.get(int(key), 0.0) + np.asarray(delta)
        rows = self.server.params.collect()
        scratch.release()
        keys = np.fromiter(sums, dtype=np.int64)
        init = dict(zip(keys.tolist(), factors(keys, mf.ITEM_SEED)))
        ok = len(rows) == len(sums) and all(
            np.max(np.abs(np.asarray(r["value"]) - (init[r["param_id"]] + sums[r["param_id"]]))) <= TOL
            for r in rows
        )
        return failed + (0 if ok else 1)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)


# ---------------------------------------------------------------------------
# ps_online: open-loop ratings into the online MF stream
# ---------------------------------------------------------------------------


class OpenLoopGenerator(threading.Thread):
    """Writes ``per_tick`` ratings every ``tick_s`` seconds, on a schedule
    that never waits on the system: file j is due at t0 + (j + 1) x tick
    and holds the ratings that arrived during tick j, rating i stamped
    with its arrival time t0 + j x tick + i x tick / per_tick. A late
    write is made at once and its lateness recorded; nothing is skipped.
    Files are staged, then renamed into the directory the stream reads."""

    def __init__(self, out_dir: str, seed: int, n_users: int, n_items: int, per_tick: int,
                 tick_s: float = 0.25, clock=time.time, sleep=time.sleep) -> None:
        super().__init__(name="open-loop-generator", daemon=True)
        self.out_dir = out_dir
        self.staging = out_dir.rstrip("/") + "_staging"
        os.makedirs(out_dir, exist_ok=True)
        os.makedirs(self.staging, exist_ok=True)
        self.per_tick, self.tick_s = per_tick, tick_s
        self.clock, self.sleep = clock, sleep
        self.rng = np.random.default_rng(seed)
        self.n_users, self.n_items = n_users, n_items
        self.stop_event = threading.Event()
        self.t0 = 0.0
        # per file: (name, due, written_at); per rating: columns below
        self.files: list[tuple[str, float, float]] = []
        self.cols: dict[str, list[np.ndarray]] = {"seq": [], "user": [], "item": [], "rating": [], "created": []}
        self.error: BaseException | None = None

    def due(self, j: int) -> float:
        return self.t0 + (j + 1) * self.tick_s

    def write_file(self, j: int) -> None:
        n = self.per_tick
        users = self.rng.integers(0, self.n_users, n, dtype=np.int64)
        items = self.rng.integers(0, self.n_items, n, dtype=np.int64)
        ratings = self.rng.integers(1, 51, n).astype(np.float64)
        seq = np.arange(j * self.per_tick, (j + 1) * self.per_tick, dtype=np.int64)
        created = self.t0 + j * self.tick_s + np.arange(self.per_tick) * (self.tick_s / self.per_tick)
        name = f"r{j:06d}.parquet"
        table = pa.table({"seq": seq, "user": users, "item": items, "rating": ratings,
                          "created_ms": created * 1e3}, schema=inputs.RATING_SCHEMA)
        pq.write_table(table, os.path.join(self.staging, name))
        os.rename(os.path.join(self.staging, name), os.path.join(self.out_dir, name))
        self.files.append((name, self.due(j), self.clock()))
        for k, v in (("seq", seq), ("user", users), ("item", items), ("rating", ratings), ("created", created)):
            self.cols[k].append(v)

    def prime(self) -> None:
        """Write file 0 at once, before the thread starts, so a stream can
        run its cold first batch on it; the schedule then goes on from
        file 1, due one tick after start()."""
        self.t0 = self.clock() - self.tick_s
        self.write_file(0)

    def run(self) -> None:
        try:
            j = len(self.files)
            self.t0 = self.clock() - j * self.tick_s
            while not self.stop_event.is_set():
                wait = self.due(j) - self.clock()
                if wait > 0:
                    self.sleep(wait)
                self.write_file(j)
                j += 1
        except BaseException as e:  # reported by the caller after join
            self.error = e

    def lag_ms(self) -> list[float]:
        return [(written - due) * 1e3 for _name, due, written in self.files]


def batch_files(chk: str) -> dict[str, int]:
    """File name -> batch id, from the file source's per-batch log in the
    query's checkpoint dir (plain and compacted log files alike)."""
    out: dict[str, int] = {}
    log = os.path.join(chk, "sources", "0")
    if not os.path.isdir(log):
        return out
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name), encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def commit_times(chk: str) -> dict[int, float]:
    """Batch id -> commit time: the mtime of its commit-log file."""
    d = os.path.join(chk, "commits")
    if not os.path.isdir(d):
        return {}
    return {int(n): os.stat(os.path.join(d, n)).st_mtime for n in os.listdir(d) if n.isdigit()}


class PsOnline(Workload):
    """Open loop: 300 ratings/s (75 every 250 ms) into
    ``streaming.online_ps.online_mf_stream``. Latency of a rating: commit
    time of the micro-batch that consumed its file minus its arrival
    time. Item: one committed rating."""

    name = "ps_online"
    N_USERS, N_ITEMS, PER_TICK = 15_000, 20_000, 75
    # the cold first batch (~8 s) runs on one primed file before the
    # generator starts, so it leaves no backlog; WARM_BATCHES more commits
    # bring the stream to its steady cycle (~2.2 s)
    WARM_BATCHES, GRACE_S = 4, 30.0

    def setup(self) -> None:
        self.listener = ProgressListener()
        self.spark.streams.addListener(self.listener)
        self.in_dir = os.path.join(self.work, "ratings")
        self.chk = os.path.join(self.work, "online_chk")
        self.gen = OpenLoopGenerator(self.in_dir, self.seed, self.N_USERS, self.N_ITEMS, per_tick=self.PER_TICK)
        self.latest: dict[int, tuple] = {}
        self.n_updates = 0
        self.query = None
        schema = "seq long, user long, item long, rating double, created_ms double"
        stream = (
            self.spark.readStream.schema(schema)
            .parquet(self.in_dir)
            .select("seq", "user", "item", "rating")
        )

        def sink(batch_df, _batch_id) -> None:
            for row in batch_df.collect():
                self.n_updates += row["n_updates"]
                self.latest[row["item"]] = tuple(row[f"f{j}"] for j in range(mf.K))

        self.gen.prime()
        self.query = (
            online_ps.online_mf_stream(self.spark, stream)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", self.chk)
            .start()
        )
        self.groups = {str(self.query.runId): "streaming.online_ps"}
        deadline = time.time() + 120
        self._wait_commits(1, deadline)
        self.gen.start()
        self._wait_commits(1 + self.WARM_BATCHES, deadline)

    def _wait_commits(self, n: int, deadline: float) -> None:
        while len(commit_times(self.chk)) < n:
            self._alive()
            if time.time() > deadline:
                raise TimeoutError("online stream did not warm up within 120 s")
            time.sleep(0.05)

    def _alive(self) -> None:
        if self.query.exception() is not None:
            raise RuntimeError(f"online stream failed: {self.query.exception()}")
        if self.gen.error is not None:
            raise RuntimeError(f"generator failed: {self.gen.error!r}")

    def _wait_committed(self, names: list[str], deadline: float) -> tuple[dict, dict]:
        while True:
            files, commits = batch_files(self.chk), commit_times(self.chk)
            if all(n in files and files[n] in commits for n in names) or time.time() > deadline:
                return files, commits
            self._alive()
            time.sleep(0.05)

    def run(self, seconds: float) -> Result:
        res = Result()
        gen, tick = self.gen, self.gen.tick_s
        j0 = len(gen.files) + 1  # first file due after now
        j1 = j0 + int(round(seconds / tick))
        while len(gen.files) < j1:
            self._alive()
            time.sleep(0.02)
        window = gen.files[j0:j1]
        names = [w[0] for w in window]
        files, commits = self._wait_committed(names, time.time() + self.GRACE_S)
        created = np.concatenate(gen.cols["created"][j0:j1])
        done = np.zeros(len(created), dtype=bool)
        lat = np.full(len(created), np.nan)
        for i, name in enumerate(names):
            b = files.get(name)
            if b is not None and b in commits:
                s = slice(i * gen.per_tick, (i + 1) * gen.per_tick)
                done[s] = True
                lat[s] = (commits[b] - created[s]) * 1e3
        res.attempted = len(created)
        res.items = int(done.sum())
        res.failed = res.attempted - res.items
        res.latencies_ms = lat[done].tolist()
        # delivery span of the window's files, as the generator measured it
        res.wall_s = window[-1][2] - gen.files[j0 - 1][2]
        self.window = (j0, j1, files, commits)
        return res

    def finish(self) -> None:
        """Stop the generator, let the stream commit everything written,
        then stop the query."""
        self.gen.stop_event.set()
        self.gen.join(timeout=10)
        names = [f[0] for f in self.gen.files]
        self._wait_committed(names, time.time() + self.GRACE_S)
        self.query.stop()
        self.listener.wait_terminated(self.query.id)

    def check(self) -> int:
        self.finish()
        self.notes["generator_lag_ms_max"] = max(self.gen.lag_ms())
        cols = {k: np.concatenate(v) for k, v in self.gen.cols.items()}
        failed = int(self.n_updates != len(cols["seq"]))
        rng = np.random.default_rng(self.seed)
        sample = set(rng.choice(np.unique(cols["item"]), 50, replace=False).tolist())
        mask = np.isin(cols["item"], list(sample))
        ref = online_ps.sequential_reference(
            list(zip(cols["seq"][mask].tolist(), cols["user"][mask].tolist(),
                     cols["item"][mask].tolist(), cols["rating"][mask].tolist()))
        )
        for item, vec in ref.items():
            got = self.latest.get(item)
            if got is None or max(abs(a - b) for a, b in zip(got, vec)) > TOL:
                failed += 1
        return failed

    def trace(self) -> None:
        self.layers["generator.lag_ms_max"] = self.notes["generator_lag_ms_max"]
        t0 = time.perf_counter()
        rows = self.spark.read.parquet(self.in_dir).count()
        self.layers["sources.scan_ms"] = (time.perf_counter() - t0) * 1e3
        self.layers["sources.rows"] = float(rows)
        gen = self.gen
        j0, j1, files, commits = self.window
        batches = [b for b in self.listener.batches(self.query.id) if b["num_input_rows"] > 0]
        in_window = {files[n] for n, _d, _w in gen.files[j0:j1] if n in files}
        wb = [b for b in batches if b["batch_id"] in in_window] or batches
        # backlog: files delivered but not yet committed, at each delivery
        done_at = sorted(commits[files[n]] for n, _d, _w in gen.files if n in files and files[n] in commits)
        backlog = [
            (j + 1) - int(np.searchsorted(done_at, written, side="right"))
            for j, (_n, _d, written) in enumerate(gen.files)
            if j0 <= j < j1
        ]
        last = batches[-1]
        self.layers.update(
            {
                "sources.stream_backlog_files_max": float(max(backlog)),
                "streaming.online_ps.batch_ms_p50": percentile([b["duration_ms"]["triggerExecution"] for b in wb], 50),
                "streaming.online_ps.batch_ms_p90": percentile([b["duration_ms"]["triggerExecution"] for b in wb], 90),
                "streaming.online_ps.add_batch_ms_p50": percentile([b["duration_ms"].get("addBatch", 0) for b in wb], 50),
                "streaming.online_ps.rows_per_batch_p50": percentile([b["num_input_rows"] for b in wb], 50),
                "streaming.online_ps.state_rows_total": float(last["state_rows_total"]),
                "streaming.online_ps.state_memory_bytes": float(last["state_memory_bytes"]),
                "streaming.online_ps.state_commit_ms_p50": percentile([b["state_commit_ms"] for b in wb], 50),
            }
        )

    def close(self) -> None:
        if self.gen.is_alive():
            self.gen.stop_event.set()
            self.gen.join(timeout=10)
        if self.query is not None and self.query.isActive:
            self.query.stop()
        self.spark.streams.removeListener(self.listener)


WORKLOADS = {w.name: w for w in (PsTrain, PsServe, PsOnline)}
