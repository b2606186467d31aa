"""Seeded input generators. Pure numpy/pyarrow: no Spark, so staging cost
is the benchmark's own and the same seed always gives the same bytes."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

W2S_SCHEMA = pa.schema(
    [
        ("kind", pa.string()),
        ("worker_partition", pa.int64()),
        ("param_id", pa.int64()),
        ("delta", pa.list_(pa.float64())),
    ]
)
RATING_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("user", pa.int64()),
        ("item", pa.int64()),
        ("rating", pa.float64()),
        ("created_ms", pa.float64()),
    ]
)


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def stage_orders_lineitem(sf_dir: str, seed: int, n_ratings: int, n_items: int, n_users: int) -> None:
    """`orders` + `lineitem` tables whose join (ps.mf.ratings) yields
    ``n_ratings`` ratings: 4 lines per order, ratings 1..50."""
    rng = np.random.default_rng(seed)
    n_orders = n_ratings // 4
    _write(
        pa.table(
            {
                "o_orderkey": np.arange(n_orders, dtype=np.int64),
                "o_custkey": rng.integers(0, n_users, n_orders, dtype=np.int64),
            }
        ),
        os.path.join(sf_dir, "orders.parquet"),
    )
    _write(
        pa.table(
            {
                "l_orderkey": np.repeat(np.arange(n_orders, dtype=np.int64), 4),
                "l_partkey": rng.integers(0, n_items, n_orders * 4, dtype=np.int64),
                "l_quantity": rng.integers(1, 51, n_orders * 4).astype(np.float64),
            }
        ),
        os.path.join(sf_dir, "lineitem.parquet"),
    )


def message_tables(seed: int, n_files: int, n_push: int, n_pull: int, n_keys: int, k: int) -> list[pa.Table]:
    """Worker->server messages for the transport topic: per file
    ``n_push`` pushes (distinct keys, small deltas) then ``n_pull`` pulls."""
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(n_files):
        push_keys = rng.choice(n_keys, n_push, replace=False).astype(np.int64)
        pull_keys = rng.choice(n_keys, n_pull, replace=False).astype(np.int64)
        deltas = rng.normal(0.0, 1e-3, (n_push, k))
        out.append(
            pa.table(
                {
                    "kind": ["push"] * n_push + ["pull"] * n_pull,
                    "worker_partition": np.zeros(n_push + n_pull, dtype=np.int64),
                    "param_id": np.concatenate([push_keys, pull_keys]),
                    "delta": [list(d) for d in deltas] + [None] * n_pull,
                },
                schema=W2S_SCHEMA,
            )
        )
    return out


def stage_topic(w2s_dir: str, tables: list[pa.Table], base_mtime: float) -> None:
    """Publish message files onto a topic the way FileQueueTransport.send
    does: one ``msgs_<n>`` directory per file, staged under a '_' name,
    stamped with strictly increasing mtimes (2 s apart), then renamed."""
    os.makedirs(w2s_dir, exist_ok=True)
    for i, table in enumerate(tables):
        staging = os.path.join(w2s_dir, f"_staged_msgs_{i:04d}")
        part = os.path.join(staging, "part-00000.parquet")
        _write(table, part)
        stamp = base_mtime + 2.0 * i
        os.utime(part, (stamp, stamp))
        os.rename(staging, os.path.join(w2s_dir, f"msgs_{i:04d}"))
