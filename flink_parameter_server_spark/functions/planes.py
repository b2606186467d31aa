"""Deterministic random-hyperplane LSH primitives for embedding
similarity (shared by operators/similarity.py and the consolidated
near-dup oracle in operators/dedup.py — lives here, below the operator
layer, so neither operator module has to import the other at
registration time).

The ±1 hyperplanes are precomputed integer-hash constants, so the
DuckDB oracle replays the exact bucket assignment.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .hashing import KNUTH, MOD
from .vectors import cosine_sql, dot, dot_sql

DIM = 64
N_PLANES = 8
PLANE_SEED = 6


def plane_signs() -> list[list[float]]:
    """Deterministic ±1 hyperplanes, precomputed so both engines share them."""
    return [
        [
            1.0 if ((s + 1) * KNUTH + (j + 1) * 40503 + PLANE_SEED * 97) % MOD % 2 == 0 else -1.0
            for j in range(DIM)
        ]
        for s in range(N_PLANES)
    ]


def _plane_sql(signs: list[float]) -> str:
    return "[" + ", ".join(str(x) for x in signs) + "]"


def bucket_col(vec):
    signs = plane_signs()
    return sum(
        F.when(dot(vec, F.array(*[F.lit(x) for x in signs[s]])) > 0, F.lit(1 << s)).otherwise(F.lit(0))
        for s in range(N_PLANES)
    )


def bucket_sql(vec_expr: str) -> str:
    signs = plane_signs()
    return " + ".join(
        f"(CASE WHEN {dot_sql(vec_expr, _plane_sql(signs[s]))} > 0 THEN {1 << s} ELSE 0 END)"
        for s in range(N_PLANES)
    )


# Embedding-cosine near-dup pairs within LSH buckets — spliced into the
# consolidated dedup_near_dup_pairs oracle (operators/dedup.py).
EMB_NEAR_DUP_SQL = f"""
WITH sig AS (
  SELECT vec_id, embedding, {bucket_sql('embedding')} AS bucket FROM embeddings
)
SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       round({cosine_sql('a.embedding', 'b.embedding')}, 6) + 0.0 AS score
FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {cosine_sql('a.embedding', 'b.embedding')} >= 0.40
"""

# IVF coarse-cell constants + the SemDeDup pair oracle (r9) — also below
# the operator layer for the same registration-time reason. Centroids are
# the COUNTED-n rule (r11, replacing the fixed-stride rule whose centroid
# count grew linearly with the corpus): count n once, take k = floor(
# sqrt(n)) centroids via stride = ceil(n/k) — every stride-th vec_id.
# Both engines replay it exactly (one COUNT + IEEE sqrt/floor/ceil on
# doubles, exact for any n < 2^53), the centroid table is bounded at
# ~sqrt(n) rows (~16 MB at 1e9 docs), and assignment costs n*sqrt(n)
# FLOPs while the cell self-join stays ~n^1.5 — the balanced IVF sizing
# (measured growth receipt in BASELINE.md; analysis in
# operators/ann_index.kmeans_centroids). SEMANTIC_T sits in a measured
# gap of the fixture's in-cell cosine distribution under this rule (see
# operators/similarity.py for the margins).
SEMANTIC_T = 0.422

# The counted-n centroid relation over the `embeddings` view — spliced
# verbatim into every semantic oracle (SEMANTIC_PAIRS_SQL here, the IVF
# ANN branch, the CC keep-rule oracle, the cluster_balance oracle) so
# the rule has one SQL source of truth.
IVF_CENT_SQL = """(SELECT vec_id AS cid, embedding AS cv
 FROM embeddings,
      (SELECT greatest(1, CAST(ceil(CAST(count(*) AS DOUBLE)
              / greatest(1.0, floor(sqrt(CAST(count(*) AS DOUBLE))))) AS BIGINT)) AS stride
       FROM embeddings) n
 WHERE vec_id % n.stride = 0)"""


def counted_stride(n: int) -> int:
    """Driver-side twin of the rule: stride = ceil(n / floor(sqrt(n))).
    Same IEEE double arithmetic as both SQL engines (exact for
    n < 2^53), so tests can recompute centroid ids independently."""
    import math

    k = max(1.0, float(math.floor(math.sqrt(float(n)))))
    return max(1, int(math.ceil(float(n) / k)))


def counted_stride_col(n_col):
    """Column-expression twin for the Spark side: the caller attaches a
    1-row count aggregate (a bounded broadcast) and filters
    ``vec_id % counted_stride_col(F.col("n_emb")) == 0`` — no driver
    action, the count stays inside the declarative plan."""
    return F.greatest(
        F.lit(1).cast("long"),
        F.ceil(
            n_col.cast("double")
            / F.greatest(F.lit(1.0), F.floor(F.sqrt(n_col.cast("double"))).cast("double"))
        ),
    )


def first_sql(cols, inner, part, order, src, keep="rn = 1") -> str:
    """One ranked pick as the body of a CTE: number the rows of ``src``
    (projected as ``inner``) per ``part`` group by ``order`` and return
    ``cols`` of the rows that satisfy ``keep`` (the first by default)."""
    return f"""  SELECT {cols} FROM (
    SELECT {inner},
           row_number() OVER (PARTITION BY {part}
                              ORDER BY {order}) AS rn
    FROM {src}
  ) WHERE {keep}"""


def nearest_sql(cols, inner, part, x, cv, cid, src, keep="rn = 1") -> str:
    """The oracle twin of similarity._nearest_centroids: each ``part``
    group keeps the centroid (vector ``cv``, id ``cid``) of max cosine
    to ``x``, ties going to the lowest id."""
    return first_sql(cols, inner, part, f"{cosine_sql(x, cv)} DESC, {cid}", src, keep)


# The flat cell assignment over a `cent` CTE: every embedding's
# max-cosine centroid.
ASSIGN_SQL = f"""assign AS (
{nearest_sql('vec_id, embedding, cid', 'e.vec_id, e.embedding, c.cid', 'e.vec_id',
             'e.embedding', 'c.cv', 'c.cid', 'embeddings e CROSS JOIN cent c')}
)"""

SEMANTIC_PAIRS_SQL = f"""
WITH cent AS {IVF_CENT_SQL},
{ASSIGN_SQL}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({cosine_sql('a.embedding', 'b.embedding')}, 6) + 0.0 AS cos_sim
FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
WHERE {cosine_sql('a.embedding', 'b.embedding')} >= {SEMANTIC_T}
"""
