"""Online parameter server on keyed streaming state (SURVEY.md §2 A1
online form, B1 online MF, D21).

Reference: `FlinkParameterServer.scala#transform` wires a *cyclic*
dataflow — workers pull/push against parameter servers over an iteration
edge, per-record sequential updates [C-high]. Spark forbids cycles; the
equivalent is to key the stream by param_id and co-locate the server
state with the worker logic in a stateful grouped-map operator: pull =
read local state, push = write it. No round-trip exists because the
record is already where its parameter lives — the shuffle performs the
reference's `paramId % psParallelism` routing [C-high].

Implementation note: Spark 4's `transformWithStateInPandas` is the
preferred API, but its driver worker needs a working google.protobuf
(absent in this container), so the engine uses the Arrow-based
`applyInPandasWithState` — identical keyed-state semantics (value state
per key, update-mode emission); swapping to transformWithStateInPandas
is a mechanical change when the environment allows.

This module implements online MF (the reference's flagship PS app,
`matrix/factorization/PSOnlineMatrixFactorization` [C-high]): ratings
keyed by item id; state = the item factor vector; per record (in seq
order within a micro-batch) a TRUE sequential SGD step — the semantics
the batch trainer (ps/mf.py) intentionally approximates with mini-batch
epochs.

Scale: state is sharded by key across partitions exactly like PS
instances; RocksDB state store + changelog checkpointing are the
production knobs; per-batch work is bounded by source rate control (A7,
maxFilesPerTrigger / maxOffsetsPerTrigger).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..functions.hashing import KNUTH, MOD
from ..ps.mf import FACTOR_HI, FACTOR_LO, ITEM_SEED, K, LR, USER_SEED

STATE_SCHEMA = StructType([StructField("vec", ArrayType(DoubleType()))])
# factor-dimension index row, hoisted out of the per-key update path
# (one per executor import, not one per group)
_JS = np.arange(K, dtype=np.int64)
OUTPUT_SCHEMA = StructType(
    [StructField("item", LongType()), StructField("n_updates", LongType())]
    + [StructField(f"f{j}", DoubleType()) for j in range(K)]
)


def _factor(idx: int, j: int, seed: int) -> float:
    h = ((idx + 1) * KNUTH + (j + 1) * 40503 + seed * 97) % MOD
    return FACTOR_LO + h / MOD * (FACTOR_HI - FACTOR_LO)


def _user_vec(user: int) -> list[float]:
    return [_factor(user, j, USER_SEED) for j in range(K)]


def _item_vec(item: int) -> list[float]:
    return [_factor(item, j, ITEM_SEED) for j in range(K)]


def _online_mf_update(key, pdf_iter, state: GroupState):
    """Per-item-key sequential SGD: PS server + worker logic fused on
    co-located state (pull = state.get, push = state.update)."""
    item = key[0]
    v = list(state.get[0]) if state.exists else _item_vec(item)
    n = 0
    # Materialize the whole micro-batch for this key before sorting: a key
    # whose rows span multiple Arrow batches (> arrow.maxRecordsPerBatch)
    # must still process records in global seq order, not per-chunk order.
    # (r15: this function runs once per ITEM key — ~19k tiny groups per
    # micro-batch at sf0.1 — so the per-group pandas overhead IS the
    # stream's cost; the common 1-chunk/1-row path skips concat and sort,
    # trajectory unchanged.)
    chunks = [pdf for pdf in pdf_iter if len(pdf)]
    if chunks:
        import numpy as np

        pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        users = pdf["user"].to_numpy(dtype=np.int64)
        ratings = pdf["rating"].to_numpy(dtype=np.float64)
        if len(users) > 1:
            order = np.argsort(pdf["seq"].to_numpy(dtype=np.int64), kind="stable")
            users = users[order]
            ratings = ratings[order]
        # vectorized batch precompute of all user vectors (the hash init
        # is pure arithmetic); the SGD recurrence itself is inherently
        # sequential (v_{t+1} depends on v_t), so only the inner K-dim
        # ops are vectorized — semantics identical to the scalar loop.
        hs = ((users[:, None] + 1) * KNUTH + (_JS[None, :] + 1) * 40503 + USER_SEED * 97) % MOD
        U = FACTOR_LO + hs / MOD * (FACTOR_HI - FACTOR_LO)
        vv = np.asarray(v, dtype=np.float64)
        for t in range(len(users)):
            u = U[t]
            e = ratings[t] - float(u @ vv)
            vv = vv + LR * e * u
        v = [float(x) for x in vv]
        n += len(users)
    state.update(([float(x) for x in v],))  # plain floats: numpy scalars break state pickling
    out = {"item": item, "n_updates": n}
    for j in range(K):
        out[f"f{j}"] = [v[j]]
    yield pd.DataFrame(out)


def online_mf_stream(spark: SparkSession, ratings_stream: DataFrame) -> DataFrame:
    """ratings_stream: streaming DF (seq, user, item, rating) -> per-item
    updated factors after each micro-batch (Update mode)."""
    return ratings_stream.groupBy("item").applyInPandasWithState(
        _online_mf_update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


PA_STATE_SCHEMA = StructType([StructField("w", ArrayType(DoubleType())), StructField("n", LongType())])
PA_OUTPUT_SCHEMA = StructType(
    [
        StructField("model_id", LongType()),
        StructField("n_updates", LongType()),
        StructField("feat_id", LongType()),
        StructField("w", DoubleType()),
    ]
)


def _pa_w0(n_features: int) -> list[float]:
    """Scalar mirror of pa.class_w0_array(0) (factor_element(0, f, W_SEED) per f)."""
    from ..ps.pa import W_HI, W_LO, W_SEED

    return [
        W_LO + (((0 + 1) * KNUTH + (j + 1) * 40503 + W_SEED * 97) % MOD) / MOD * (W_HI - W_LO)
        for j in range(n_features)
    ]


def _online_pa_update(key, pdf_iter, state: GroupState):
    """Per-model-key sequential PA-I: pull = state.get, per record compute
    margin/tau against the CURRENT weights, push = state.update.

    tau_t = min(C, max(0, 1 - y_t * <w_t, x_t>) / ||x_t||^2);
    w_{t+1} = w_t + tau_t * y_t * x_t — the reference's per-record
    trajectory (PassiveAggressiveParameterServer#transformBinary
    [C-high]), which the batch trainers intentionally approximate with
    mini-batch steps.
    """
    import numpy as np

    from ..ps.pa import C, N_FEATURES

    model_id = key[0]
    if state.exists:
        w = np.asarray(state.get[0], dtype=np.float64)
        n = int(state.get[1])
    else:
        w = np.asarray(_pa_w0(N_FEATURES), dtype=np.float64)
        n = 0
    chunks = [pdf for pdf in pdf_iter if len(pdf)]
    if chunks:
        pdf = pd.concat(chunks, ignore_index=True).sort_values("seq")
        ys = pdf["y"].to_numpy(dtype=np.float64)
        xs = np.stack(pdf["x"].to_numpy())
        for y, x in zip(ys, xs):
            margin = float(w @ x)
            loss = max(0.0, 1.0 - y * margin)
            tau = min(C, loss / float(x @ x))
            w = w + tau * y * x
            n += 1
    state.update(([float(v) for v in w], n))
    yield pd.DataFrame(
        {
            "model_id": model_id,
            "n_updates": n,
            "feat_id": range(len(w)),
            "w": [float(v) for v in w],
        }
    )


def online_pa_stream(spark: SparkSession, inst_stream: DataFrame) -> DataFrame:
    """inst_stream: streaming DF (seq, model_id, y, x) -> full weight
    vector as (feat_id, w) rows after each micro-batch (Update mode).

    The reference shards weights by `paramId % psParallelism` and updates
    them ASYNCHRONOUSLY from concurrent workers — no defined global
    record order [C-high]. Any deterministic per-record trajectory needs
    a total order over records, and every record touches every (dense)
    feature, so the faithful deterministic form is the psParallelism=1
    trajectory: one logical model key, state co-located with the worker
    loop. Sparse-feature workloads shard naturally (key = feature block,
    records routed to the blocks their active features hit); rate control
    (A7) bounds per-batch work either way.
    """
    return inst_stream.groupBy("model_id").applyInPandasWithState(
        _online_pa_update,
        outputStructType=PA_OUTPUT_SCHEMA,
        stateStructType=PA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def pa_sequential_reference(insts: list[tuple[int, float, list[float]]]) -> list[float]:
    """Driver-side reference (plain Python) for tests: insts as
    (seq, y, x) processed in seq order against one weight vector."""
    from ..ps.pa import C, N_FEATURES

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
