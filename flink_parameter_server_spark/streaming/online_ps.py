"""Online parameter server on keyed streaming state (SURVEY.md §2 A1
online form, B1 online MF, D21).

Reference: `FlinkParameterServer.scala#transform` wires a *cyclic*
dataflow — workers pull/push against parameter servers over an iteration
edge, per-record sequential updates [C-high]. Spark forbids cycles; the
equivalent is to key the stream by the server shard that owns a record's
parameter and co-locate the server state with the worker logic in a
stateful grouped-map operator: pull = read local state, push = write it.
No round-trip exists because the record is already where its parameter
lives — the shuffle performs the reference's `paramId % psParallelism`
routing [C-high].

Implementation note: Spark 4's `transformWithStateInPandas` is the
preferred API, but its driver worker needs a working google.protobuf
(absent in this container), so the engine uses the Arrow-based
`applyInPandasWithState` — identical keyed-state semantics (value state
per key, update-mode emission); swapping to transformWithStateInPandas
is a mechanical change when the environment allows.

One worker shell serves both algorithms (`_shard_update`): a record for
parameter id p goes to shard `pmod(p, shards)`, one state row per shard
holds that shard's id -> vector map and per-id update counts, and each
touched id's records run in seq order through the algorithm's update
rule. Only the rule and the output rows are per-algorithm (`_Rule`).

- Online MF (the reference's flagship PS app,
  `matrix/factorization/PSOnlineMatrixFactorization` [C-high]): ratings
  sharded by item id over `SHARDS` shards; each item's vector takes a
  TRUE sequential SGD step per rating — the semantics the batch trainer
  (ps/mf.py) intentionally approximates with mini-batch epochs.
- Online PA-I: one shard holding the single model's weight vector (see
  `online_pa_stream`).

Scale: one pandas call per shard per micro-batch, instead of one per
touched parameter — that per-group overhead was the stream's cost. The
price is that a touched shard rewrites its whole state row, so per-batch
state bytes grow with the parameters a shard holds, and at most SHARDS
tasks run the sequential loops in parallel; RocksDB state store +
changelog checkpointing are the production knobs, and per-batch work is
bounded by source rate control (A7, maxFilesPerTrigger /
maxOffsetsPerTrigger).
"""

from __future__ import annotations

from functools import partial
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..functions.hashing import KNUTH, MOD
from ..ps.mf import FACTOR_HI, FACTOR_LO, ITEM_SEED, K, LR, USER_SEED
from ..ps.pa import C, N_FEATURES, W_HI, W_LO, W_SEED

# Online MF shard count. A module constant, not an option: an item's
# shard must not change between restarts of one checkpoint. The trade-off:
# each group costs ~1.5 ms of pandas/Arrow overhead per batch (keyed by
# item, ps_online's ~300 groups added ~450 ms to a batch), a touched shard
# rewrites its whole row (~1/SHARDS of the item table), and SHARDS caps
# how many tasks run the sequential loops at once. On perfbench's
# ps_online (300 ratings/s over 20k items, local[2], 4 vCPUs) 4, 8 and 16
# shards gave the same batch p50 within run-to-run noise (890 / 855 /
# ~885 ms); the online_ps_sequential entry at sf0.1 on 4 cores also tied
# 4 and 8 (3.6 / 3.9 s warm, vs 14.1 s keyed by item). 8 keeps twice the
# loop parallelism of 4 for larger hosts, for 4 more groups per batch.
SHARDS = 8

# One row per shard: that shard's id -> vector map as packed arrays (row i
# of `vecs` belongs to ids[i]; ids ascending), plus the records applied to
# each id so far. Packed bytes round-trip float64 exactly and skip the
# per-element conversion a list-typed state would pay.
SHARD_STATE_SCHEMA = StructType(
    [
        StructField("ids", BinaryType()),  # int64[n]
        StructField("vecs", BinaryType()),  # float64[n, dim]
        StructField("counts", BinaryType()),  # int64[n]
    ]
)
# factor-dimension index row (one per executor import, not one per group)
_JS = np.arange(K, dtype=np.int64)
OUTPUT_SCHEMA = StructType(
    [StructField("item", LongType()), StructField("n_updates", LongType())]
    + [StructField(f"f{j}", DoubleType()) for j in range(K)]
)
PA_OUTPUT_SCHEMA = StructType(
    [
        StructField("model_id", LongType()),
        StructField("n_updates", LongType()),
        StructField("feat_id", LongType()),
        StructField("w", DoubleType()),
    ]
)


class _Rule(NamedTuple):
    """The per-algorithm part of the shard shell."""

    id_col: str  # column naming the parameter vector a record updates
    shards: int
    dim: int
    output: StructType
    init: Callable[[np.ndarray], np.ndarray]  # new ids -> (n, dim) initial vectors
    records: Callable[[pd.DataFrame], tuple]  # rows -> per-record arrays, row order kept
    step: Callable[..., np.ndarray]  # (vector, *one id's record arrays, seq order) -> vector
    emit: Callable[..., pd.DataFrame]  # (ids, vectors, batch counts, total counts) -> rows


def _shard_update(rule: _Rule, key, pdf_iter, state: GroupState):
    """One shard's micro-batch: PS server + worker logic fused on
    co-located state (pull = state.get, push = state.update). Each
    touched id's records run in seq order through `rule.step`, so every
    id's trajectory is the one it would have alone."""
    if state.exists:
        ids_b, vecs_b, counts_b = state.get
        ids = np.frombuffer(ids_b, dtype=np.int64)
        vecs = np.frombuffer(vecs_b, dtype=np.float64).reshape(len(ids), rule.dim).copy()
        counts = np.frombuffer(counts_b, dtype=np.int64).copy()
    else:
        ids, vecs, counts = np.empty(0, np.int64), np.empty((0, rule.dim)), np.empty(0, np.int64)
    # the shard's whole micro-batch, even when it spans several Arrow
    # batches (> arrow.maxRecordsPerBatch): records must run in global seq
    # order, not per-chunk order
    pdf = pd.concat([chunk for chunk in pdf_iter if len(chunk)], ignore_index=True)
    rec_ids = pdf[rule.id_col].to_numpy(dtype=np.int64)
    order = np.lexsort((pdf["seq"].to_numpy(dtype=np.int64), rec_ids))  # by id, then seq
    recs = [a[order] for a in rule.records(pdf)]
    touched, starts, n_batch = np.unique(rec_ids[order], return_index=True, return_counts=True)
    fresh = np.setdiff1d(touched, ids, assume_unique=True)
    if len(fresh):
        ids = np.concatenate([ids, fresh])
        vecs = np.concatenate([vecs, rule.init(fresh)])
        counts = np.concatenate([counts, np.zeros(len(fresh), np.int64)])
        by_id = np.argsort(ids, kind="stable")
        ids, vecs, counts = ids[by_id], vecs[by_id], counts[by_id]
    rows = np.searchsorted(ids, touched)
    for r, s, n in zip(rows, starts, n_batch):
        vecs[r] = rule.step(vecs[r], *(a[s : s + n] for a in recs))
    counts[rows] += n_batch
    state.update((ids.tobytes(), vecs.tobytes(), counts.tobytes()))
    yield rule.emit(touched, vecs[rows], n_batch, counts[rows])


def _sharded_stream(records: DataFrame, rule: _Rule) -> DataFrame:
    shard = F.pmod(F.col(rule.id_col), F.lit(rule.shards))
    return records.withColumn("shard", shard).groupBy("shard").applyInPandasWithState(
        partial(_shard_update, rule),
        outputStructType=rule.output,
        stateStructType=SHARD_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _factor(idx: int, j: int, seed: int, lo: float = FACTOR_LO, hi: float = FACTOR_HI) -> float:
    h = ((idx + 1) * KNUTH + (j + 1) * 40503 + seed * 97) % MOD
    return lo + h / MOD * (hi - lo)


def _factor_rows(ids: np.ndarray, seed: int) -> np.ndarray:
    """`_factor` over (ids x K) at once: exact int64 hash (operands far
    below 2^63), then the same float ops, so bit-identical to the scalar."""
    h = ((ids[:, None] + 1) * KNUTH + (_JS[None, :] + 1) * 40503 + seed * 97) % MOD
    return FACTOR_LO + h / MOD * (FACTOR_HI - FACTOR_LO)


def _user_vec(user: int) -> list[float]:
    return [_factor(user, j, USER_SEED) for j in range(K)]


def _item_vec(item: int) -> list[float]:
    return [_factor(item, j, ITEM_SEED) for j in range(K)]


def _mf_init(items: np.ndarray) -> np.ndarray:
    return _factor_rows(items, ITEM_SEED)


def _mf_records(pdf: pd.DataFrame) -> tuple:
    # all user vectors of the batch at once (the hash init is pure
    # arithmetic); the SGD recurrence itself stays sequential
    users = _factor_rows(pdf["user"].to_numpy(dtype=np.int64), USER_SEED)
    return users, pdf["rating"].to_numpy(dtype=np.float64)


def _mf_step(vv: np.ndarray, users: np.ndarray, ratings: np.ndarray) -> np.ndarray:
    """Sequential SGD on one item vector, one step per rating."""
    for u, rating in zip(users, ratings):
        e = rating - float(u @ vv)
        vv = vv + LR * e * u
    return vv


def _mf_emit(items, vecs, n_batch, _n_total) -> pd.DataFrame:
    # n_updates is this batch's count: callers sum it over batches
    return pd.DataFrame({"item": items, "n_updates": n_batch, **{f"f{j}": vecs[:, j] for j in range(K)}})


_MF = _Rule(
    id_col="item",
    shards=SHARDS,
    dim=K,
    output=OUTPUT_SCHEMA,
    init=_mf_init,
    records=_mf_records,
    step=_mf_step,
    emit=_mf_emit,
)


def online_mf_stream(spark: SparkSession, ratings_stream: DataFrame) -> DataFrame:
    """ratings_stream: streaming DF (seq, user, item, rating) -> per-item
    updated factors after each micro-batch (Update mode): one row per item
    the batch touched, `n_updates` = that item's ratings in the batch."""
    return _sharded_stream(ratings_stream, _MF)


def _pa_w0(n_features: int) -> list[float]:
    """Scalar mirror of pa.class_w0_array(0) (factor_element(0, f, W_SEED) per f)."""
    return [_factor(0, j, W_SEED, W_LO, W_HI) for j in range(n_features)]


def _pa_init(models: np.ndarray) -> np.ndarray:
    return np.tile(np.asarray(_pa_w0(N_FEATURES)), (len(models), 1))


def _pa_records(pdf: pd.DataFrame) -> tuple:
    return pdf["y"].to_numpy(dtype=np.float64), np.stack(pdf["x"].to_numpy())


def _pa_step(w: np.ndarray, ys: np.ndarray, xs: np.ndarray) -> np.ndarray:
    """Sequential PA-I: per record compute margin/tau against the CURRENT
    weights.

    tau_t = min(C, max(0, 1 - y_t * <w_t, x_t>) / ||x_t||^2);
    w_{t+1} = w_t + tau_t * y_t * x_t — the reference's per-record
    trajectory (PassiveAggressiveParameterServer#transformBinary
    [C-high]), which the batch trainers intentionally approximate with
    mini-batch steps.
    """
    for y, x in zip(ys, xs):
        margin = float(w @ x)
        loss = max(0.0, 1.0 - y * margin)
        tau = min(C, loss / float(x @ x))
        w = w + tau * y * x
    return w


def _pa_emit(models, ws, _n_batch, n_total) -> pd.DataFrame:
    # one (feat_id, w) row per feature; n_updates counts every record so far
    dim = ws.shape[1]
    return pd.DataFrame(
        {
            "model_id": np.repeat(models, dim),
            "n_updates": np.repeat(n_total, dim),
            "feat_id": np.tile(np.arange(dim), len(models)),
            "w": ws.ravel(),
        }
    )


_PA = _Rule(
    id_col="model_id",
    shards=1,
    dim=N_FEATURES,
    output=PA_OUTPUT_SCHEMA,
    init=_pa_init,
    records=_pa_records,
    step=_pa_step,
    emit=_pa_emit,
)


def online_pa_stream(spark: SparkSession, inst_stream: DataFrame) -> DataFrame:
    """inst_stream: streaming DF (seq, model_id, y, x) -> full weight
    vector as (feat_id, w) rows after each micro-batch (Update mode).

    The reference shards weights by `paramId % psParallelism` and updates
    them ASYNCHRONOUSLY from concurrent workers — no defined global
    record order [C-high]. Any deterministic per-record trajectory needs
    a total order over records, and every record touches every (dense)
    feature, so the faithful deterministic form is the psParallelism=1
    trajectory: one shard holding the model, state co-located with the
    worker loop. Sparse-feature workloads shard naturally (key = feature
    block, records routed to the blocks their active features hit); rate
    control (A7) bounds per-batch work either way.
    """
    return _sharded_stream(inst_stream, _PA)


def pa_sequential_reference(insts: list[tuple[int, float, list[float]]]) -> list[float]:
    """Driver-side reference (plain Python) for tests: insts as
    (seq, y, x) processed in seq order against one weight vector."""
    w = _pa_w0(N_FEATURES)
    for _seq, y, x in sorted(insts, key=lambda r: r[0]):
        margin = sum(a * b for a, b in zip(w, x))
        loss = max(0.0, 1.0 - y * margin)
        tau = min(C, loss / sum(v * v for v in x))
        w = [wi + tau * y * xi for wi, xi in zip(w, x)]
    return w


def sequential_reference(ratings: list[tuple[int, int, int, float]]) -> dict[int, list[float]]:
    """Driver-side reference implementation (same math, plain Python) for
    tests: ratings as (seq, user, item, rating), processed in seq order
    per item."""
    state: dict[int, list[float]] = {}
    for seq, user, item, rating in sorted(ratings):
        v = state.get(item) or _item_vec(item)
        u = _user_vec(user)
        e = rating - sum(a * b for a, b in zip(u, v))
        state[item] = [vi + LR * e * ui for vi, ui in zip(v, u)]
    return state
