"""Embedding similarity search (SURVEY.md §2 D25 + north-star ANN).

No reference analog; this is the north-star similarity surface over the
`embeddings` fixture (64-dim float vectors).

- brute-force cosine top-k: the correctness baseline. One broadcast of
  the query set, cosine as built-in higher-order functions (JVM-side,
  no UDF), window top-k.
- random-hyperplane SimHash buckets: the scale path — signatures are
  literal ±1 hyperplanes (precomputed constants, so the DuckDB oracle
  replays them exactly), candidates share an 8-bit bucket, exact cosine
  re-ranks. At 100 TB: bucket join instead of cross join turns O(N*Q)
  into O(sum over buckets |Q_b|*|N_b|); multi-probe or more planes tune
  recall. MLlib BucketedRandomProjectionLSH is the built-in equivalent
  (random, not oracle-reproducible — exercised in tests).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.planes import (  # noqa: F401 (EMB_NEAR_DUP_SQL/SEMANTIC_PAIRS_SQL re-exported for dedup)
    DIM,
    EMB_NEAR_DUP_SQL,
    IVF_CENT_SQL,
    SEMANTIC_PAIRS_SQL,
    SEMANTIC_T,
    bucket_col as _bucket_col,
    bucket_sql as _bucket_sql,
    counted_stride_col,
)
from ..functions.vectors import (
    as_double,
    cosine_sql,
    dot,
    dot_sql,
    l2sq,
    l2sq_sql,
    norm2,
    norm2_sql,
)
from ..plans.registry import register
from ._util import t


def _fast_cosine(a, b, na, nb):
    """Per-pair cosine with HOISTED per-vector norms: the norms are
    computed once per VECTOR (pre-join projection) instead of once per
    pair, cutting the per-pair fold work to the single dot product.
    Same values, same rounding, so the cosine_sql oracle is unchanged.

    The dot stays the higher-order fold: a flat 64-term dot_fixed
    expansion was measured marginally faster warm but slower COLD — the
    giant codegen'd projections cost seconds of JIT compile and ~1.3 MB
    task binaries, dominating at bench scale (same lesson as the flat
    token hash, functions/hashing.py)."""
    return dot(a, b) / (na * nb)


# one partition-count probe per (session, sf_dir): .rdd.getNumPartitions()
# compiles the scan plan eagerly, and the four embedding entries (x reps in
# bench) would otherwise each pay that driver work just to re-learn the
# same answer. Keyed on applicationId, NOT id(spark): a stopped session's
# address can be reused by a new one and an id() key would serve a stale
# count (ADVICE r6). Known residual: a fixture dir REWRITTEN with a
# different file layout under the same path within one application keeps
# its old count — acceptable for a bench-lifetime process where fixtures
# are immutable; the dict is tiny (one int per corpus) so no eviction.
_SCAN_PARTS: dict[tuple[str, str], int] = {}


def embeddings_normed(spark, sf_dir: str):
    df = t(spark, sf_dir, "embeddings")
    key = (spark.sparkContext.applicationId, sf_dir)
    n = _SCAN_PARTS.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        _SCAN_PARTS[key] = n
    return _with_norm(df, "embedding", "ne", scan_partitions=n)


def _with_norm(df, vec_col: str, out: str, scan_partitions: int | None = None):
    # Parallelism guard (r6 third-decade rehearsal finding): every
    # consumer of this table drives a compute-heavy pair stage with NO
    # intervening shuffle on the big side — the brute top-k most of all,
    # a BroadcastHashJoin whose stream side inherits the SCAN
    # partitioning. A small single-file embeddings fixture arrives as
    # ONE partition, so the whole cosine loop ran in one task: measured
    # 173 s at ~sf1 (20k vectors) vs ~15 s redistributed. Repartition
    # only when the scan is actually under-split (explicit numPartitions
    # is AQE-coalesce-exempt); at real scale the scan splits naturally
    # and this branch never fires.
    n = scan_partitions if scan_partitions is not None else df.rdd.getNumPartitions()
    if n < 16:
        df = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return df.withColumn(out, F.sqrt(norm2(as_double(F.col(vec_col)))))


_BRUTE_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round({cosine_sql('q.qv', 'e.embedding')}, 6) + 0.0 AS cos_sim
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
)
SELECT 'brute' AS method, query_id, neighbor_id, cos_sim, rk FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM scored
) WHERE rk <= 5
"""


def embedding_cosine_topk(spark, sf_dir, k: int = 5):
    """Brute-force cosine top-k (default 5) neighbors for sampled query
    vectors — the ANN correctness baseline. Query side broadcasts; cosine is pure
    column math (zip_with+aggregate), fully codegen'd."""
    emb = embeddings_normed(spark, sf_dir)
    q = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
        F.col("ne").alias("nq"),
    )
    scored = (
        F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _fast_cosine(
                    as_double(F.col("qv")), as_double(F.col("embedding")),
                    F.col("nq"), F.col("ne"),
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.select("query_id", "neighbor_id", "cos_sim", F.row_number().over(w).alias("rk")).where(
        F.col("rk") <= k
    )


_SIMHASH_ANN_SQL = f"""
WITH sig AS (
  SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM sig WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.query_id, s.vec_id AS neighbor_id,
         round({cosine_sql('q.qv', 's.embedding')}, 6) + 0.0 AS cos_sim
  FROM q JOIN sig s ON s.bucket = q.bucket AND s.vec_id <> q.query_id
)
SELECT 'simhash' AS method, query_id, neighbor_id, cos_sim, rk FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM scored
) WHERE rk = 1
"""


def embedding_simhash_ann(spark, sf_dir, k: int = 1):
    """LSH-bucketed ANN (scale path): 8 deterministic random-hyperplane
    signs -> 8-bit bucket, candidates = bucket-mates only, exact cosine
    re-rank, top-1. The equi-join on bucket replaces the cross join —
    this is what survives 100 TB; recall tunes via planes/multi-probe."""
    emb = embeddings_normed(spark, sf_dir)
    sig = emb.select(
        "vec_id", "embedding", "ne",
        _bucket_col(as_double(F.col("embedding"))).alias("bucket"),
    )
    q = sig.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
        F.col("ne").alias("nq"), "bucket",
    )
    scored = q.join(sig, "bucket").where(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            _fast_cosine(
                as_double(F.col("qv")), as_double(F.col("embedding")),
                F.col("nq"), F.col("ne"),
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


# The counted-n centroid rule (k ~ sqrt(n), r11) lives in
# functions/planes.py with the other oracle-shared constants.
_IVF_ANN_SQL = f"""
WITH cent AS {IVF_CENT_SQL},
assign AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cosine_sql('e.embedding', 'c.cv')} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, embedding AS qv, cid FROM assign WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         round({cosine_sql('q.qv', 'a.embedding')}, 6) + 0.0 AS cos_sim
  FROM q JOIN assign a ON a.cid = q.cid AND a.vec_id <> q.query_id
)
SELECT 'ivf' AS method, query_id, neighbor_id, cos_sim, rk FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM scored
) WHERE rk = 1
"""


# Two-level COUNTED rule (r11): super-centroids = the counted rule
# applied to the centroid table's RANK order (every stride2-th centroid
# by cid rank, stride2 = ceil(k/floor(sqrt(k)))) — every stage is a
# deterministic argmax both engines replay bit-for-bit, so the
# HIERARCHICAL approximation itself is oracle-checkable: identical
# prune, identical cells, identical neighbors in Spark and DuckDB.
# Assignment FLOPs: n·k^(1/2) per level ~ 2n·n^(1/4) total (vs the flat
# counted rule's n·sqrt(n)) — at 1e9 docs, ~3.6e11 vs 3e13 cosines.
_IVF2_ANN_SQL = f"""
WITH cent AS {IVF_CENT_SQL},
crk AS (
  SELECT cid, cv,
         row_number() OVER (ORDER BY cid) - 1 AS rnk,
         count(*) OVER () AS k
  FROM cent
),
sup AS (
  SELECT cid AS scid, cv AS sv FROM crk
  WHERE rnk % greatest(1, CAST(ceil(CAST(k AS DOUBLE)
              / greatest(1.0, floor(sqrt(CAST(k AS DOUBLE))))) AS BIGINT)) = 0
),
parent AS (
  SELECT cid, cv, scid FROM (
    SELECT c.cid, c.cv, s.scid,
           row_number() OVER (PARTITION BY c.cid
                              ORDER BY {cosine_sql('c.cv', 's.sv')} DESC, s.scid) AS rn
    FROM cent c CROSS JOIN sup s
  ) WHERE rn = 1
),
coarse AS (
  SELECT vec_id, embedding, scid FROM (
    SELECT e.vec_id, e.embedding, s.scid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cosine_sql('e.embedding', 's.sv')} DESC, s.scid) AS rn
    FROM embeddings e CROSS JOIN sup s
  ) WHERE rn = 1
),
assign2 AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT x.vec_id, x.embedding, p.cid,
           row_number() OVER (PARTITION BY x.vec_id
                              ORDER BY {cosine_sql('x.embedding', 'p.cv')} DESC, p.cid) AS rn
    FROM coarse x JOIN parent p ON p.scid = x.scid
  ) WHERE rn = 1
),
q2 AS (SELECT vec_id AS query_id, embedding AS qv, cid FROM assign2 WHERE vec_id % 50 = 0),
scored2 AS (
  SELECT q2.query_id, a.vec_id AS neighbor_id,
         round({cosine_sql('q2.qv', 'a.embedding')}, 6) + 0.0 AS cos_sim
  FROM q2 JOIN assign2 a ON a.cid = q2.cid AND a.vec_id <> q2.query_id
)
SELECT 'ivf2' AS method, query_id, neighbor_id, cos_sim, rk FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM scored2
) WHERE rk = 1
"""


# Deterministic multi-probe (r12, VERDICT r11 #4 — the hash-checked
# lane's recall knob): same geometry CTEs as _IVF2_ANN_SQL, but each
# query keeps its top-PROBES supers (rn <= p on the very window the
# single-probe form argmaxes) and the max-cosine CHILD within each —
# candidate set = union of <= p cells, a superset of single-probe's,
# so recall-vs-brute is monotone in p. Every stage stays a
# deterministic rank: the p>1 approximation is replayed bit-for-bit.
IVF2_PROBES = 2

_IVF2P_ANN_SQL = f"""
WITH cent AS {IVF_CENT_SQL},
crk AS (
  SELECT cid, cv,
         row_number() OVER (ORDER BY cid) - 1 AS rnk,
         count(*) OVER () AS k
  FROM cent
),
sup AS (
  SELECT cid AS scid, cv AS sv FROM crk
  WHERE rnk % greatest(1, CAST(ceil(CAST(k AS DOUBLE)
              / greatest(1.0, floor(sqrt(CAST(k AS DOUBLE))))) AS BIGINT)) = 0
),
parent AS (
  SELECT cid, cv, scid FROM (
    SELECT c.cid, c.cv, s.scid,
           row_number() OVER (PARTITION BY c.cid
                              ORDER BY {cosine_sql('c.cv', 's.sv')} DESC, s.scid) AS rn
    FROM cent c CROSS JOIN sup s
  ) WHERE rn = 1
),
coarse AS (
  SELECT vec_id, embedding, scid FROM (
    SELECT e.vec_id, e.embedding, s.scid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cosine_sql('e.embedding', 's.sv')} DESC, s.scid) AS rn
    FROM embeddings e CROSS JOIN sup s
  ) WHERE rn = 1
),
assign2 AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT x.vec_id, x.embedding, p.cid,
           row_number() OVER (PARTITION BY x.vec_id
                              ORDER BY {cosine_sql('x.embedding', 'p.cv')} DESC, p.cid) AS rn
    FROM coarse x JOIN parent p ON p.scid = x.scid
  ) WHERE rn = 1
),
qsup AS (
  SELECT query_id, qv, scid FROM (
    SELECT e.vec_id AS query_id, e.embedding AS qv, s.scid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cosine_sql('e.embedding', 's.sv')} DESC, s.scid) AS rn
    FROM embeddings e CROSS JOIN sup s
    WHERE e.vec_id % 50 = 0
  ) WHERE rn <= {IVF2_PROBES}
),
qcell AS (
  SELECT query_id, qv, cid FROM (
    SELECT q.query_id, q.qv, p.cid,
           row_number() OVER (PARTITION BY q.query_id, q.scid
                              ORDER BY {cosine_sql('q.qv', 'p.cv')} DESC, p.cid) AS rn
    FROM qsup q JOIN parent p ON p.scid = q.scid
  ) WHERE rn = 1
),
scoredp AS (
  SELECT qc.query_id, a.vec_id AS neighbor_id,
         round({cosine_sql('qc.qv', 'a.embedding')}, 6) + 0.0 AS cos_sim
  FROM qcell qc JOIN assign2 a ON a.cid = qc.cid AND a.vec_id <> qc.query_id
)
SELECT 'ivf2_p{IVF2_PROBES}' AS method, query_id, neighbor_id, cos_sim, rk FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM scoredp
) WHERE rk = 1
"""


# Product quantization over the counted-n IVF cells (r12): the IVFADC
# composite of Jegou et al. 2011, "Product Quantization for Nearest
# Neighbor Search" — THE 100 TB ANN memory design. The unit vector is
# split into PQ_M subvectors, each quantized to its argmin-L2 codeword
# from a CONSTANT-size codebook (PQ_K anchors via a fixed vec_id
# stride, so both engines pick identical codewords); a query probes its
# IVF cell and ranks candidates by the ADC score — the sum over
# subspaces of precomputed query-to-codeword dot products — WITHOUT
# touching the raw vectors, then the top-PQ_SHORTLIST are re-ranked by
# exact cosine (the standard refine step). Determinism: distances and
# LUT dots are the shared left-fold (bit-identical cross-engine), ADC
# sums are 6dp-micro-grid LONGS (fold-order-independent), every rank
# ties on ids. Memory story: codes are PQ_M * log2(PQ_K) = 4 bytes per
# vector vs 256 raw bytes (64x) — at 1e9 vectors the scan state drops
# from 256 GB to 4 GB, which is what makes the in-cell ADC scan
# cache-resident on real hardware.
PQ_M = 8
PQ_SUB = DIM // PQ_M
PQ_K = 16
PQ_SHORTLIST = 10

_IVFPQ_ANN_SQL = f"""
WITH cent AS {IVF_CENT_SQL},
assign AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cosine_sql('e.embedding', 'c.cv')} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
nv AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) / sqrt({norm2_sql('embedding')})) AS xn
  FROM embeddings WHERE {norm2_sql('embedding')} > 0
),
anch AS (
  SELECT vec_id AS aid, xn FROM nv,
       (SELECT greatest(1, CAST(ceil(CAST(count(*) AS DOUBLE) / {PQ_K}.0) AS BIGINT)) AS stride
        FROM embeddings) s
  WHERE vec_id % s.stride = 0
),
cb AS (
  SELECT aid, m, list_slice(xn, m*{PQ_SUB}+1, m*{PQ_SUB}+{PQ_SUB}) AS cs
  FROM anch, generate_series(0, {PQ_M - 1}) t(m)
),
xs AS (
  SELECT vec_id, m, list_slice(xn, m*{PQ_SUB}+1, m*{PQ_SUB}+{PQ_SUB}) AS sv
  FROM nv, generate_series(0, {PQ_M - 1}) t(m)
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT x.vec_id, x.m, c.aid AS code,
           row_number() OVER (PARTITION BY x.vec_id, x.m
                              ORDER BY {l2sq_sql('x.sv', 'c.cs')}, c.aid) AS rn
    FROM xs x JOIN cb c ON c.m = x.m
  ) WHERE rn = 1
),
qp AS (SELECT vec_id AS query_id, embedding AS qv, cid FROM assign WHERE vec_id % 50 = 0),
lut AS (
  SELECT n.vec_id AS query_id, c.m, c.aid,
         CAST(CAST(round({dot_sql(f'list_slice(n.xn, c.m*{PQ_SUB}+1, c.m*{PQ_SUB}+{PQ_SUB})', 'c.cs')}, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS lmic
  FROM nv n CROSS JOIN cb c
  WHERE n.vec_id % 50 = 0
),
adc AS (
  SELECT qp.query_id, a.vec_id AS neighbor_id, sum(l.lmic) AS adc_mic
  FROM qp JOIN assign a ON a.cid = qp.cid AND a.vec_id <> qp.query_id
  JOIN codes k ON k.vec_id = a.vec_id
  JOIN lut l ON l.query_id = qp.query_id AND l.m = k.m AND l.aid = k.code
  GROUP BY qp.query_id, a.vec_id
),
short AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY adc_mic DESC, neighbor_id) AS rn
    FROM adc
  ) WHERE rn <= {PQ_SHORTLIST}
),
scoredpq AS (
  SELECT s.query_id, s.neighbor_id,
         round({cosine_sql('qp.qv', 'e.embedding')}, 6) + 0.0 AS cos_sim
  FROM short s JOIN qp ON qp.query_id = s.query_id
  JOIN embeddings e ON e.vec_id = s.neighbor_id
)
SELECT 'ivfpq' AS method, query_id, neighbor_id, cos_sim, rk FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM scoredpq
) WHERE rk = 1
"""

# By-residual IVFADC twin (r14, method='ivfpq_res'): identical chain to
# _IVFPQ_ANN_SQL except the encoded quantity is xn - cvn (the unit
# vector minus its cell's UNIT centroid — counted-n centroids are
# actual sampled vectors, so cvn is element-exact in both engines) and
# the codebook anchors are the same ceil(n/PQ_K) stride rule over the
# RESIDUAL rows, NOT normalized. The query LUT stays over the
# normalized query; the per-query centroid base term is constant within
# the probed cell (n_probe=1) and drops out of the ADC ranking.
_IVFPQ_RES_ANN_SQL = f"""
WITH cent AS {IVF_CENT_SQL},
assign AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cosine_sql('e.embedding', 'c.cv')} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
nv AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) / sqrt({norm2_sql('embedding')})) AS xn
  FROM embeddings WHERE {norm2_sql('embedding')} > 0
),
centn AS (
  SELECT cid,
         list_transform(cv, x -> CAST(x AS DOUBLE) / sqrt({norm2_sql('cv')})) AS cvn
  FROM cent
),
rres AS (
  SELECT n.vec_id, a.cid,
         list_transform(range(1, len(n.xn) + 1), i -> n.xn[i] - c.cvn[i]) AS rx
  FROM nv n JOIN assign a USING (vec_id) JOIN centn c ON a.cid = c.cid
),
anchr AS (
  SELECT vec_id AS aid, rx FROM rres,
       (SELECT greatest(1, CAST(ceil(CAST(count(*) AS DOUBLE) / {PQ_K}.0) AS BIGINT)) AS stride
        FROM embeddings) s
  WHERE vec_id % s.stride = 0
),
cbr AS (
  SELECT aid, m, list_slice(rx, m*{PQ_SUB}+1, m*{PQ_SUB}+{PQ_SUB}) AS cs
  FROM anchr, generate_series(0, {PQ_M - 1}) t(m)
),
xsr AS (
  SELECT vec_id, m, list_slice(rx, m*{PQ_SUB}+1, m*{PQ_SUB}+{PQ_SUB}) AS sv
  FROM rres, generate_series(0, {PQ_M - 1}) t(m)
),
codesr AS (
  SELECT vec_id, m, code FROM (
    SELECT x.vec_id, x.m, c.aid AS code,
           row_number() OVER (PARTITION BY x.vec_id, x.m
                              ORDER BY {l2sq_sql('x.sv', 'c.cs')}, c.aid) AS rn
    FROM xsr x JOIN cbr c ON c.m = x.m
  ) WHERE rn = 1
),
qpr AS (SELECT vec_id AS query_id, embedding AS qv, cid FROM assign WHERE vec_id % 50 = 0),
lutr AS (
  SELECT n.vec_id AS query_id, c.m, c.aid,
         CAST(CAST(round({dot_sql(f'list_slice(n.xn, c.m*{PQ_SUB}+1, c.m*{PQ_SUB}+{PQ_SUB})', 'c.cs')}, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS lmic
  FROM nv n CROSS JOIN cbr c
  WHERE n.vec_id % 50 = 0
),
adcr AS (
  SELECT qp.query_id, a.vec_id AS neighbor_id, sum(l.lmic) AS adc_mic
  FROM qpr qp JOIN assign a ON a.cid = qp.cid AND a.vec_id <> qp.query_id
  JOIN codesr k ON k.vec_id = a.vec_id
  JOIN lutr l ON l.query_id = qp.query_id AND l.m = k.m AND l.aid = k.code
  GROUP BY qp.query_id, a.vec_id
),
shortr AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY adc_mic DESC, neighbor_id) AS rn
    FROM adcr
  ) WHERE rn <= {PQ_SHORTLIST}
),
scoredpqr AS (
  SELECT s.query_id, s.neighbor_id,
         round({cosine_sql('qp.qv', 'e.embedding')}, 6) + 0.0 AS cos_sim
  FROM shortr s JOIN qpr qp ON qp.query_id = s.query_id
  JOIN embeddings e ON e.vec_id = s.neighbor_id
)
SELECT 'ivfpq_res' AS method, query_id, neighbor_id, cos_sim, rk FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM scoredpqr
) WHERE rk = 1
"""


@register(
    "embedding_ann_topk",
    oracle=f"""
SELECT * FROM ({_BRUTE_SQL}) AS brute_part
UNION ALL
SELECT * FROM ({_SIMHASH_ANN_SQL}) AS simhash_part
UNION ALL
SELECT * FROM ({_IVF_ANN_SQL}) AS ivf_part
UNION ALL
SELECT * FROM ({_IVF2_ANN_SQL}) AS ivf2_part
UNION ALL
SELECT * FROM ({_IVF2P_ANN_SQL}) AS ivf2p_part
UNION ALL
SELECT * FROM ({_IVFPQ_ANN_SQL}) AS ivfpq_part
UNION ALL
SELECT * FROM ({_IVFPQ_RES_ANN_SQL}) AS ivfpq_res_part
""",
    tags=("D25",),
    doc="Embedding similarity search, all four forms in one query "
    "discriminated by `method` (consolidated from embedding_cosine_topk "
    "/ embedding_simhash_ann / embedding_ivf_ann). 'brute': broadcast "
    "query set, exact cosine (zip_with+aggregate, fully codegen'd), "
    "window top-5 — the correctness baseline. 'simhash': 8 deterministic "
    "random-hyperplane signs -> 8-bit bucket, candidates = bucket-mates "
    "only, exact cosine re-rank, top-1 — the bucket equi-join replaces "
    "the cross join at 100 TB; recall tunes via planes/multi-probe. "
    "'ivf': deterministic counted-n coarse centroids (k ~ sqrt(n) via "
    "stride = ceil(n/floor(sqrt(n))), r11), vectors assigned to their "
    "max-cosine cell, queries probe their own cell only, exact re-rank "
    "inside — at 100 TB centroids come from sampled k-means (the "
    "ann_index build) with the identical cell-join shape and sizing. "
    "'ivf2' (r11): the TWO-LEVEL counted rule — super-centroids are the "
    "counted rule applied to the centroid table's own rank order, "
    "vectors coarse-argmax to a super cell then argmax within its "
    "children (~2n·n^(1/4) FLOPs vs the flat rule's n^1.5); every "
    "stage is deterministic, so the hierarchical APPROXIMATION itself "
    "is hash-checked against DuckDB — the oracle-checkable twin of "
    "ann_index.kmeans_assign_two_level. 'ivf2_p2' (r12): the lane's "
    "deterministic multi-probe recall knob — queries probe the top-1 "
    "child of each of their top-2 supers (rn <= p on the same windows "
    "the single-probe form argmaxes), candidate sets are supersets of "
    "ivf2's, recall-vs-brute monotone in p (receipt in BASELINE.md). "
    "'ivfpq' (r12): the IVFADC composite (Jegou et al. 2011) — the "
    "query's cell ranked by ADC over 4-byte PQ codes (constant 128-row "
    "codebook, integer micro-grid sums) without touching raw vectors, "
    "exact-cosine refine on the top-10 — the 64x-compressed memory "
    "lane, quantization error hash-checked (receipt in BASELINE.md). r13 adds the family-wide recall@10-vs-brute receipt (tools/ann_recall.py; BASELINE.md r13 — monotone in the ivf2 probe count at both fixture scales, pinned) and k= parameters on every method function (registry output unchanged). "
    "'ivfpq_res' (r14): the BY-RESIDUAL IVFADC form (Jegou et al.'s "
    "by_residual=true) hash-checked end to end — counted-n centroids "
    "are actual sampled vectors, so the unit-centroid subtraction and "
    "the stride-sampled residual codebook are engine-exact; the "
    "per-query centroid base term is constant in the probed cell and "
    "drops out of the ADC ranking; shortlist= sweepable on both PQ "
    "lanes (recall non-decreasing, pinned; the persisted serving lane "
    "adds per-subspace Lloyd residual codewords, BASELINE.md r14).",
)
def embedding_ann_topk(spark, sf_dir):
    from ..scratch import scratch

    # serial: the four construction chains (brute | simhash |
    # flat-assignment family | two-level family) are independent, but
    # building them on driver threads ran 7 % faster at 4 cores
    # (tools/ab.py warm rep, sf0.1, 10 pairs), under the 10 % an overlap
    # must earn
    def _brute():
        return embedding_cosine_topk(spark, sf_dir).select(
            F.lit("brute").alias("method"), "query_id", "neighbor_id", "cos_sim", "rk"
        )

    def _simhash():
        return embedding_simhash_ann(spark, sf_dir).select(
            F.lit("simhash").alias("method"), "query_id", "neighbor_id", "cos_sim", "rk"
        )

    def _flat_family():
        # one scratch-persisted flat cell assignment feeds the ivf AND
        # ivfpq branches (r12 — the double-compute class)
        assign1 = scratch(ivf_assign(embeddings_normed(spark, sf_dir)))
        # r15: the in-cell EXACT cosine set (query x cell-mate, the
        # 'ivf' branch's scored frame) is also exactly what both PQ
        # lanes consume — as the candidate pair set for ADC ranking and
        # as the refine scores for their shortlists. Compute it once,
        # scratch it, and let all three branches read it (it was
        # computed 3x before: the ivf re-rank and each lane's refine
        # join re-derived the same rounded cosines from the raw
        # vectors).
        scored1 = scratch(_ivf_scored(assign1))
        wk = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id")
        )
        ivf = (
            scored1.withColumn("rk", F.row_number().over(wk))
            .where(F.col("rk") <= 1)
            .select(
                F.lit("ivf").alias("method"), "query_id", "neighbor_id", "cos_sim", "rk"
            )
        )
        # both PQ lanes through ONE fused ADC -> shortlist -> refine
        # chain (lane-discriminated union: half the joins/windows of two
        # separate lane plans; per-lane arithmetic unchanged — see
        # _ivfpq_fused)
        return ivf, _ivfpq_fused(spark, sf_dir, assign1, scored1)

    def _two_level_family():
        # one scratch-persisted two-level catalog assignment feeds BOTH
        # ivf2 branches (r12 — the double-compute class).
        # r16 (the bfdfa78 fused-chain pattern, VERDICT r15 #6): the two
        # lanes previously each built their own query-cell set (ivf2p
        # re-deriving the whole two-level geometry inside
        # ivf2_probe_cells) and each ran its own in-cell scoring join.
        # Now: ONE geometry feeds the assignment and the probe path, ONE
        # probe-cells frame with the super rank kept (its srn==1 subset
        # IS the probes=1 cell set, bit-identical — same windows and
        # tie-breaks), and ONE scored join feeds both lanes' rank
        # windows. Per-lane candidate sets and values unchanged (the
        # single-probe lane ranks only srn==1 rows).
        emb2 = embeddings_normed(spark, sf_dir)
        geo = _ivf2_geometry(emb2)
        assign2 = scratch(ivf2_assign(emb2, _geometry=geo))
        qcells = ivf2_probe_cells(
            emb2,
            emb2.where(F.col("vec_id") % 50 == 0),
            IVF2_PROBES,
            _geometry=geo,
            keep_super_rank=True,
        )
        scored2 = scratch(
            qcells.join(assign2, "cid")
            .where(F.col("vec_id") != F.col("query_id"))
            .select(
                "query_id",
                "srn",
                F.col("vec_id").alias("neighbor_id"),
                F.round(
                    _fast_cosine(
                        as_double(F.col("qv")), as_double(F.col("embedding")),
                        F.col("nq"), F.col("ne"),
                    ),
                    6,
                ).alias("cos_sim"),
            )
        )
        w2 = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id")
        )
        ivf2 = (
            scored2.where(F.col("srn") == 1)
            .withColumn("rk", F.row_number().over(w2))
            .where(F.col("rk") <= 1)
            .select(
                F.lit("ivf2").alias("method"),
                "query_id", "neighbor_id", "cos_sim", "rk",
            )
        )
        ivf2p = (
            scored2.withColumn("rk", F.row_number().over(w2))
            .where(F.col("rk") <= 1)
            .select(
                F.lit(f"ivf2_p{IVF2_PROBES}").alias("method"),
                "query_id", "neighbor_id", "cos_sim", "rk",
            )
        )
        return ivf2, ivf2p

    brute, simhash = _brute(), _simhash()
    ivf, pq_both = _flat_family()
    ivf2, ivf2p = _two_level_family()
    return (
        brute.unionByName(simhash)
        .unionByName(ivf)
        .unionByName(pq_both)
        .unionByName(ivf2)
        .unionByName(ivf2p)
    )


def ivf_assign(emb, keep_centroid_cos: bool = False):
    """Deterministic coarse-cell assignment shared by the IVF ANN path
    and the SemDeDup pair generator: centroids = the COUNTED-n rule
    (r11 — planes.IVF_CENT_SQL: count n once, stride = ceil(n /
    floor(sqrt(n))), every stride-th vec_id is a centroid), each vector
    lands in its max-cosine cell (tie -> lowest cid). The count is a
    1-row aggregate attached declaratively (a bounded broadcast, no
    driver action), and the centroid side is a ~sqrt(n)-row broadcast —
    ~16 MB at 1e9 docs, vs the retired fixed-stride rule whose n/64-row
    centroid table (and n^2/64 assignment FLOPs) grew linearly with the
    corpus (VERDICT r10 wrong-#1). ``keep_centroid_cos`` additionally
    carries the winning cosine, which SemDeDup's keep-rule ranks on."""
    nrow = emb.agg(F.count(F.lit(1)).alias("n_emb"))
    cent = (
        emb.crossJoin(F.broadcast(nrow))
        .where(F.col("vec_id") % counted_stride_col(F.col("n_emb")) == 0)
        .select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"),
            F.col("ne").alias("nc"),
        )
    )
    w_assign = Window.partitionBy("vec_id").orderBy(F.col("cos_c").desc(), F.col("cid"))
    extra = ["cos_c"] if keep_centroid_cos else []
    return (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "ne",
            "cid",
            _fast_cosine(
                as_double(F.col("embedding")), as_double(F.col("cv")),
                F.col("ne"), F.col("nc"),
            ).alias("cos_c"),
        )
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("vec_id", "embedding", "ne", "cid", *extra)
    )


def _ivf2_geometry(emb):
    """The two bounded tables of the two-level counted rule (r11,
    factored r12 so the multi-probe query path shares them): ``sup``
    (~n^(1/4) super-centroids — the counted rule applied to the
    centroid table's cid-rank order) and ``parent`` (~sqrt(n) child
    centroids, each argmaxed to its super). Both broadcast-bounded;
    the rank window is single-partition over the sqrt(n)-row centroid
    table only."""
    nrow = emb.agg(F.count(F.lit(1)).alias("n_emb"))
    cent = (
        emb.crossJoin(F.broadcast(nrow))
        .where(F.col("vec_id") % counted_stride_col(F.col("n_emb")) == 0)
        .select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"),
            F.col("ne").alias("nc"),
        )
    )
    crk = cent.select(
        "cid",
        "cv",
        "nc",
        (F.row_number().over(Window.orderBy("cid")) - 1).alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("k"),
    )
    sup = crk.where(F.col("rnk") % counted_stride_col(F.col("k")) == 0).select(
        F.col("cid").alias("scid"), F.col("cv").alias("sv"), F.col("nc").alias("ns")
    )
    wp = Window.partitionBy("cid").orderBy(F.col("cos_s").desc(), F.col("scid"))
    parent = (
        cent.crossJoin(F.broadcast(sup))
        .select(
            "cid", "cv", "nc", "scid",
            _fast_cosine(
                as_double(F.col("cv")), as_double(F.col("sv")),
                F.col("nc"), F.col("ns"),
            ).alias("cos_s"),
        )
        .withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") == 1)
        .select("cid", "cv", "nc", "scid")
    )
    return sup, parent


def ivf2_probe_cells(emb, queries, probes: int, _geometry=None, keep_super_rank=False):
    """Deterministic multi-probe for the hash-checked two-level lane
    (r12, VERDICT r11 #4 — the oracle lane's recall knob): each query
    ranks the super-centroids and probes its top-``probes`` supers
    (``rn <= probes`` on the same window the single-probe lane
    argmaxes), then takes the max-cosine CHILD within each probed
    super. Returns (query_id, qv, nq, cid) with <= probes rows per
    query; cells are distinct because every child has exactly one
    parent. probes=1 reproduces :func:`ivf2_assign`'s query cell
    bit-for-bit (same windows, same tie-breaks), and the probed cell
    SET grows monotonically with ``probes`` — so candidate sets are
    supersets and recall-vs-brute is monotone non-decreasing (pinned
    in tests). Every stage stays a deterministic rank, so the p>1
    approximation is DuckDB-replayable like the rest of the lane.

    ``_geometry`` (r16): pass a prebuilt (sup, parent) pair so the
    consolidated entry derives the two-level geometry ONCE for the
    assignment and the probe path. ``keep_super_rank`` additionally
    carries each probed cell's super rank (``srn``) so a fused consumer
    can recover the probes=1 cell set (srn == 1) from the probes=p
    frame — bit-identical cells, same windows and tie-breaks."""
    sup, parent = _geometry if _geometry is not None else _ivf2_geometry(emb)
    wq = Window.partitionBy("query_id").orderBy(F.col("cos_s").desc(), F.col("scid"))
    qsup = (
        queries.crossJoin(F.broadcast(sup))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("ne").alias("nq"),
            "scid",
            _fast_cosine(
                as_double(F.col("embedding")), as_double(F.col("sv")),
                F.col("ne"), F.col("ns"),
            ).alias("cos_s"),
        )
        .withColumn("srn", F.row_number().over(wq))
        .where(F.col("srn") <= probes)
        .select("query_id", "qv", "nq", "scid", "srn")
    )
    wch = Window.partitionBy("query_id", "scid").orderBy(
        F.col("cos_c").desc(), F.col("cid")
    )
    extra = ["srn"] if keep_super_rank else []
    return (
        qsup.join(F.broadcast(parent), "scid")
        .select(
            "query_id", "qv", "nq", "scid", "srn", "cid",
            _fast_cosine(
                as_double(F.col("qv")), as_double(F.col("cv")),
                F.col("nq"), F.col("nc"),
            ).alias("cos_c"),
        )
        .withColumn("rn", F.row_number().over(wch))
        .where(F.col("rn") == 1)
        .select("query_id", "qv", "nq", "cid", *extra)
    )


def ivf2_assign(emb, keep_centroid_cos: bool = False, _geometry=None):
    """Two-level counted-rule assignment (r11) — the DETERMINISTIC,
    oracle-replayable twin of ann_index.kmeans_assign_two_level:

    1. centroids = the counted-n rule (as :func:`ivf_assign`);
    2. super-centroids = the counted rule applied AGAIN, to the
       centroid table's cid-rank order (every stride2-th centroid,
       stride2 = ceil(k/floor(sqrt(k))) — ~n^(1/4) rows);
    3. each centroid argmaxes to a parent super cell (k x k^(1/2),
       driver-scale); each vector argmaxes over the supers, then over
       its super's CHILDREN via a broadcast hash join on scid.

    Every stage is a deterministic argmax with explicit tie-breaks, so
    the hierarchical approximation is bit-identical in Spark and
    DuckDB — the property that lets the registry HASH-CHECK an
    approximate ANN form. FLOPs ~2n·n^(1/4) vs the flat counted rule's
    n^1.5; both levels' broadcast tables are bounded (sqrt(n), n^(1/4)
    rows). The rank window in step 2 is a single-partition window over
    the ~sqrt(n)-row centroid table — bounded by construction.

    Zero-norm vectors keep the oracle's NULL-cosine ordering exactly
    as :func:`ivf_assign` does; PRUNE consumers filter ``ne > 0``
    AFTER assignment (the semdedup_prune default-path convention) —
    tests/test_fixedk_semantic.py shows the composition.

    ``_geometry`` (r16): prebuilt (sup, parent), shared with the probe
    path by the consolidated entry."""
    sup, parent = _geometry if _geometry is not None else _ivf2_geometry(emb)
    wc = Window.partitionBy("vec_id").orderBy(F.col("cos_s").desc(), F.col("scid"))
    coarse = (
        emb.crossJoin(F.broadcast(sup))
        .select(
            "vec_id", "embedding", "ne", "scid",
            _fast_cosine(
                as_double(F.col("embedding")), as_double(F.col("sv")),
                F.col("ne"), F.col("ns"),
            ).alias("cos_s"),
        )
        .withColumn("rn", F.row_number().over(wc))
        .where(F.col("rn") == 1)
        .select("vec_id", "embedding", "ne", "scid")
    )
    wf = Window.partitionBy("vec_id").orderBy(F.col("cos_c").desc(), F.col("cid"))
    extra = ["cos_c"] if keep_centroid_cos else []
    return (
        coarse.join(F.broadcast(parent), "scid")
        .select(
            "vec_id",
            "embedding",
            "ne",
            "cid",
            _fast_cosine(
                as_double(F.col("embedding")), as_double(F.col("cv")),
                F.col("ne"), F.col("nc"),
            ).alias("cos_c"),
        )
        .withColumn("rn", F.row_number().over(wf))
        .where(F.col("rn") == 1)
        .select("vec_id", "embedding", "ne", "cid", *extra)
    )


def semantic_cell_profile(assign) -> dict:
    """Cell-size balance stats for an in-memory assignment frame — the
    counted-n twin of ann_index.cell_skew (r11). The counted rule's
    centroids are ID-STRATIFIED samples: on a corpus whose embeddings
    CLUSTER heavily (the realistic pretraining case), a dense region's
    vectors pile into few cells and the in-cell pair join goes
    ~|cell|^2 — the quadratic term the sqrt(n) sizing assumes away.
    One aggregation over (cid) -> {n_cells, total, max_cell,
    mean_cell, skew, max_share, pair_bound}; pair_bound = sum(n_c^2)/2
    is the pair join's actual row bound vs the balanced ~total^1.5/2
    estimate.

    Which statistic flags what: the counted centroids are a
    density-PROPORTIONAL sample (vec_id order is independent of the
    embedding), so SMOOTH clusters self-balance — the rule's real
    pathology is EXACT-duplicate mass (boilerplate before dedup):
    identical vectors all tie to one lowest-cid centroid, collapsing
    into one cell that `skew` (max/mean over NON-EMPTY cells)
    understates because the other cells empty out. ``max_share``
    (max_cell/total) is the deployment flag: a cell holding > ~10% of
    the corpus makes the pair join quadratic in that share — switch
    the semantic stage to the density-adaptive quantizer
    (ann_index.kmeans_assign / kmeans_assign_two_level via the
    ``assign=`` hooks), or better, run exact dedup FIRST (the
    corpus_curate stage order already does). The counted rule stays
    the ORACLE form — this diagnostic is how a deployment decides
    which geometry to run."""
    row = (
        assign.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_c"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("n_c").alias("total"),
            F.max("n_c").alias("max_cell"),
            F.avg("n_c").alias("mean_cell"),
            F.sum(F.col("n_c") * F.col("n_c")).alias("sq"),
        )
        .collect()[0]
    )
    return {
        "n_cells": row["n_cells"],
        "total": row["total"],
        "max_cell": row["max_cell"],
        "mean_cell": row["mean_cell"],
        "skew": (row["max_cell"] / row["mean_cell"]) if row["mean_cell"] else 0.0,
        "max_share": (row["max_cell"] / row["total"]) if row["total"] else 0.0,
        "pair_bound": (row["sq"] or 0) // 2,
    }


def embedding_ivf2_ann(spark, sf_dir, probes: int = 1, _assign=None, k: int = 1):
    """IVF ANN over the two-level counted assignment (method='ivf2'):
    queries probe their own (two-level-assigned) cell, exact re-rank,
    top-1 — the same probe shape as :func:`embedding_ivf_ann` on the
    pruned geometry. The assignment is scratch-persisted so the query
    and catalog sides share one computation.

    ``probes`` > 1 (r12): the deterministic multi-probe — each query
    probes the top-1 child of each of its top-``probes`` super cells
    (:func:`ivf2_probe_cells`), so the candidate set is a superset of
    the single-probe one and recall-vs-brute rises monotonically
    (receipt in BASELINE.md; registry method='ivf2_p2'). The catalog
    side stays the shared single-cell assignment either way.
    ``_assign`` lets the consolidated registry entry share ONE
    scratch-persisted catalog assignment across its ivf2 branches
    (the double-compute class)."""
    from ..scratch import scratch

    emb = embeddings_normed(spark, sf_dir)
    assign = _assign if _assign is not None else scratch(ivf2_assign(emb))
    if probes > 1:
        q = ivf2_probe_cells(emb, emb.where(F.col("vec_id") % 50 == 0), probes)
    else:
        q = assign.where(F.col("vec_id") % 50 == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
            F.col("ne").alias("nq"), "cid",
        )
    scored = q.join(assign, "cid").where(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            _fast_cosine(
                as_double(F.col("qv")), as_double(F.col("embedding")),
                F.col("nq"), F.col("ne"),
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def embedding_ivf_ann(spark, sf_dir, _assign=None, k: int = 1):
    """IVF-style ANN (the other scale path): deterministic counted-n
    coarse centroids (k ~ sqrt(n)), vectors assigned to their
    max-cosine cell, queries probe their own cell only, exact re-rank
    inside. At 100 TB: centroids come from sampled k-means (the
    ann_index build), cells partition the index, multi-probe tunes
    recall — the cell join shape AND the k ~ sqrt(n) sizing are
    identical to this oracle-checked form. ``_assign`` lets the
    consolidated registry entry share ONE scratch-persisted flat
    assignment with the 'ivfpq' branch (the double-compute class,
    r12)."""
    emb = embeddings_normed(spark, sf_dir)
    assign = _assign if _assign is not None else ivf_assign(emb)
    q = assign.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
        F.col("ne").alias("nq"), "cid",
    )
    scored = q.join(assign, "cid").where(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            _fast_cosine(
                as_double(F.col("qv")), as_double(F.col("embedding")),
                F.col("nq"), F.col("ne"),
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def _ivf_scored(assign):
    """The flat-IVF in-cell EXACT cosine set: (query_id, neighbor_id,
    cos_sim 6dp) for every %50 query x same-cell catalog vector — the
    shared sub-result of the consolidated ANN entry (r15): the 'ivf'
    branch window-ranks it directly, and both PQ lanes consume it as
    their candidate pair set AND their refine scores (the three
    branches previously re-derived these cosines independently)."""
    q = assign.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
        F.col("ne").alias("nq"), "cid",
    )
    return q.join(assign, "cid").where(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            _fast_cosine(
                as_double(F.col("qv")), as_double(F.col("embedding")),
                F.col("nq"), F.col("ne"),
            ),
            6,
        ).alias("cos_sim"),
    )


def _ivfpq_fused(spark, sf_dir, assign, scored):
    """Both IVFADC lanes (method='ivfpq' plain / 'ivfpq_res'
    by-residual) through ONE lane-discriminated ADC -> shortlist ->
    refine chain (r15). Per-lane arithmetic is IDENTICAL to
    :func:`embedding_ivfpq_ann` / :func:`embedding_ivfpq_res_ann` at
    the registered defaults (k=1, shortlist=None): the lane-specific
    pieces (codebook, codes, per-query LUT) are built per lane exactly
    as before, then union with a `method` column so the candidate
    join, the ADC window, the refine join and the final top-k window
    each run ONCE over (method, query_id) instead of once per lane —
    and the refine reads the shared exact-cosine frame (``scored``)
    instead of re-deriving cosines from raw vectors. Equivalence is
    pinned test-side against the standalone lane functions; the
    standalone functions remain the sweepable (k=, shortlist=) tool
    surface."""
    from ..scratch import scratch

    refine_n = PQ_SHORTLIST
    emb = embeddings_normed(spark, sf_dir)

    # --- plain lane builds (embedding_ivfpq_ann verbatim)
    cb_p = scratch(pq_codebook(emb))
    codes_p = pq_codes_arr(emb, codebook=cb_p).withColumnRenamed("vec_id", "neighbor_id")
    lut_p = pq_lut_map(emb.where(F.col("vec_id") % 50 == 0), cb_p)

    # --- residual lane builds (embedding_ivfpq_res_ann verbatim)
    nrow = emb.agg(F.count(F.lit(1)).alias("n_emb"))
    centn = (
        emb.crossJoin(F.broadcast(nrow))
        .where(F.col("vec_id") % counted_stride_col(F.col("n_emb")) == 0)
        .select(
            F.col("vec_id").alias("cid"),
            F.transform(
                as_double(F.col("embedding")), lambda c: c / F.col("ne")
            ).alias("cvn"),
        )
    )
    rx = scratch(
        _pq_normed(assign, keep=("cid",))
        .join(F.broadcast(centn), "cid")
        .select(
            "vec_id",
            "cid",
            F.zip_with("xn", "cvn", lambda a, b: a - b).alias("xn"),
        )
    )
    cb_r = scratch(
        _pq_subvecs(
            rx.crossJoin(F.broadcast(nrow))
            .where(F.col("vec_id") % _pq_stride_col(F.col("n_emb")) == 0)
            .select("vec_id", "xn"),
            "vec_id",
            "cs",
        ).select(F.col("vec_id").alias("aid"), "m", "cs")
    )
    codes_r = pq_codes_from_xn(rx.select("vec_id", "xn"), cb_r).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    lut_r = pq_lut_map(emb.where(F.col("vec_id") % 50 == 0), cb_r)

    # --- fused chain
    codes = codes_p.select(F.lit("ivfpq").alias("method"), "neighbor_id", "codes").unionByName(
        codes_r.select(F.lit("ivfpq_res").alias("method"), "neighbor_id", "codes")
    )
    luts = lut_p.select(F.lit("ivfpq").alias("method"), "query_id", "lmap").unionByName(
        lut_r.select(F.lit("ivfpq_res").alias("method"), "query_id", "lmap")
    )
    cand = scored.select("query_id", "neighbor_id")
    adc = (
        cand.join(codes, "neighbor_id")
        .join(luts, ["method", "query_id"])
        .select(
            "method",
            "query_id",
            "neighbor_id",
            pq_adc_mic(F.col("codes"), F.col("lmap")).alias("adc_mic"),
        )
    )
    wq = Window.partitionBy("method", "query_id").orderBy(
        F.col("adc_mic").desc(), F.col("neighbor_id")
    )
    short = (
        adc.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= refine_n)
        .select("method", "query_id", "neighbor_id")
    )
    w = Window.partitionBy("method", "query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        short.join(scored, ["query_id", "neighbor_id"])
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 1)
        .select("method", "query_id", "neighbor_id", "cos_sim", "rk")
    )


def _pq_stride_col(n_col):
    """Anchor stride for the constant-size PQ codebook: ceil(n / PQ_K),
    attached from a 1-row count aggregate exactly like
    :func:`counted_stride_col` — no driver action."""
    return F.greatest(
        F.lit(1).cast("long"),
        F.ceil(n_col.cast("double") / F.lit(float(PQ_K))),
    )


def _pq_normed(emb, keep=()):
    """(vec_id, *keep, xn): unit vectors as double arrays. Zero/null-norm
    rows are filtered (no direction to quantize) in BOTH engines. ne is
    bound as a column before the divide transform, so each element is
    ONE divide (the outer-reference pitfall, BASELINE.md r11)."""
    return (
        emb.where(F.col("ne") > 0)
        .select("vec_id", *keep, as_double(F.col("embedding")).alias("xd"), "ne")
        .select(
            "vec_id", *keep, F.transform("xd", lambda x: x / F.col("ne")).alias("xn")
        )
    )


def _pq_subvecs(df, id_col: str, out: str):
    """Explode a (id, xn) unit-vector frame into its PQ_M subvectors:
    (id, m, <out>) with m = 0..PQ_M-1 — literal slices, so the plan
    stays whole-stage-codegen column math."""
    slices = F.array(*[F.slice("xn", m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)])
    return df.select(id_col, F.posexplode(slices).alias("m", out))


def pq_codebook(emb):
    """The constant-size PQ codebook: <= PQ_K anchor rows via the fixed
    vec_id stride ceil(n/PQ_K) (1-row count attached declaratively),

    PRECONDITION (ADVICE r12): the stride rule assumes a reasonably
    DENSE 0-based vec_id space (the fixture contract). On a sparse or
    offset id space the `vec_id % stride == 0` filter can select zero
    anchors, and downstream encodes silently emit NULL codes rather
    than erroring — this helper is the DuckDB-replayable ORACLE lane,
    so it keeps the declarative stride rule; arbitrary frames should
    use the persisted lane's ann_index._pq_train_codebook (seeded-hash
    orderBy + limit(PQ_K), immune to id-space shape).
    each split into PQ_M normalized subvector codewords — <= PQ_K*PQ_M
    = {PQ_K*PQ_M} rows total, a constant-bounded broadcast at ANY
    corpus size (unlike the sqrt(n) centroid table, the codebook does
    not grow: PQ quality scales with PQ_K/PQ_M, not n). At real scale
    the anchors become sampled k-means per subspace (the ann_index
    pattern) with the identical encode/ADC shape."""
    nrow = emb.agg(F.count(F.lit(1)).alias("n_emb"))
    anch = (
        _pq_normed(emb)
        .crossJoin(F.broadcast(nrow))
        .where(F.col("vec_id") % _pq_stride_col(F.col("n_emb")) == 0)
        .select(F.col("vec_id").alias("aid"), "xn")
    )
    return _pq_subvecs(anch, "aid", "cs")


def pq_codes(emb, codebook=None):
    """PQ-encode the catalog MAP-ONLY: the <=128-row codebook folds to
    a 1-row struct-array aggregate (the counted-n 1-row-broadcast
    pattern), and each vector computes all PQ_M argmin-L2 codewords in
    one projection — array_min over (d2, aid) structs, tie -> lowest
    aid, distances the shared left-fold (:func:`l2sq`), bit-identical
    to the DuckDB twin. Returns (vec_id, m, code) via a map-side
    posexplode. 100 TB shape: ZERO shuffles — the encode is a pure
    scan + constant broadcast (the first cut shuffled n*PQ_M rows
    through a (vec_id, m) agg; at fixture scale the stage overhead
    alone cost ~1 s, and at real scale the shuffle is n*8 rows of
    pure overhead)."""
    arr = pq_codes_arr(emb, codebook)
    return arr.select("vec_id", F.posexplode("codes").alias("m", "code"))


def pq_codes_arr(emb, codebook=None, keep=()):
    """The map-only encode itself: (vec_id, *keep, codes array<long>) —
    see :func:`pq_codes` for the contract. ``keep`` passes columns
    through (the persisted-index lane keeps cid so codes land in the
    same cell partitions as their vectors)."""
    cb = codebook if codebook is not None else pq_codebook(emb)
    return pq_codes_from_xn(_pq_normed(emb, keep=keep), cb, keep=keep)


def pq_codes_from_xn(xs, codebook, keep=()):
    """Argmin-L2 encode of an ALREADY-PREPARED (vec_id, *keep, xn
    array<double>) frame against ``codebook`` — the factored core of
    :func:`pq_codes_arr` (r14): the by-residual persisted lane feeds
    residual vectors here (which must NOT be re-normalized — a residual
    has no meaningful unit direction), the plain lane feeds unit
    vectors. Same map-only shape: constant codebook broadcast, all
    PQ_M codewords in one projection."""
    cba = codebook.groupBy().agg(
        F.collect_list(F.struct("m", "aid", "cs")).alias("cba")
    )
    xs = xs.crossJoin(F.broadcast(cba)).withColumn(
        "svs", F.array(*[F.slice("xn", m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)])
    )
    codes_arr = F.transform(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        lambda mm: F.array_min(
            F.transform(
                F.filter(F.col("cba"), lambda c: c["m"] == mm),
                lambda c: F.struct(
                    l2sq(F.element_at(F.col("svs"), mm + 1), c["cs"]).alias("d2"),
                    c["aid"].alias("aid"),
                ),
            )
        )["aid"],
    )
    return xs.select("vec_id", *keep, codes_arr.alias("codes"))


def pq_lut(qdf, codebook):
    """Per-query ADC lookup table over an arbitrary (vec_id, embedding,
    ne) query frame: (query_id, m, code, lmic) with lmic =
    round(dot(q_m, c_{m,aid}), 6dp) on the integer micro grid — the
    per-(query, candidate) ADC score is then a SUM of longs, exact and
    fold-order-independent in both engines (the emic pattern).
    Bounded: |queries| x PQ_M x PQ_K rows. Shared by the oracle lane
    (the %50 query subset) and the persisted-index ADC probe (r12)."""
    qs = _pq_subvecs(_pq_normed(qdf), "vec_id", "sv").withColumnRenamed(
        "vec_id", "query_id"
    )
    return qs.join(F.broadcast(codebook), "m").select(
        "query_id",
        "m",
        F.col("aid").alias("code"),
        (F.round(dot(F.col("sv"), F.col("cs")), 6).cast("decimal(18,6)") * 1000000)
        .cast("long")
        .alias("lmic"),
    )


def pq_lut_map(qdf, codebook):
    """:func:`pq_lut` folded to one (code*PQ_M + m) -> lmic map row per
    query (m is the LOW digit — code is the unbounded anchor vec_id;
    collect_list order is irrelevant, keys are unique)."""
    return (
        pq_lut(qdf, codebook)
        .groupBy("query_id")
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        (F.col("code") * PQ_M + F.col("m")).cast("long").alias("k"),
                        F.col("lmic").alias("v"),
                    )
                )
            ).alias("lmap")
        )
    )


def pq_adc_mic(codes_col, lmap_col):
    """The per-row ADC score: sum over subspaces of the query's
    precomputed codeword dot (integer micro grid — exact, order-free)."""
    return F.aggregate(
        F.zip_with(
            codes_col,
            F.sequence(F.lit(0), F.lit(PQ_M - 1)),
            lambda cd, mm: F.element_at(lmap_col, (cd * PQ_M + mm).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, v: a + v,
    )


def embedding_ivfpq_ann(spark, sf_dir, _assign=None, k: int = 1, shortlist: int | None = None):
    """IVFADC ANN (method='ivfpq', r12 — Jegou et al. 2011): queries
    probe their counted-n IVF cell, candidates are ranked by the ADC
    score over 4-byte PQ codes WITHOUT touching raw vectors (the sum
    over subspaces of the query's precomputed codeword dots, integer
    micro-grid so the sum is exact), the top-PQ_SHORTLIST re-rank by
    exact cosine, top-1 emitted — the standard refine step. Every
    stage is a deterministic rank over engine-identical values, so the
    PQ approximation itself is hash-checked against DuckDB.

    100 TB shape: all joins are equi (cid / m / code / neighbor_id);
    broadcasts are the sqrt(n) centroid table + 1-row count (the
    shared IVF assignment) and the CONSTANT <=128-row codebook; the
    in-cell ADC scan reads PQ_M longs per candidate instead of the
    256-byte vector — the memory-bandwidth win PQ exists for.
    ``_assign`` shares the scratch-persisted flat cell assignment with
    the 'ivf' branch of the consolidated entry.

    Documented divergence from Jegou et al.'s by-residual IVFADC: the
    codes here quantize the normalized vector itself, not the residual
    x - centroid (FAISS IndexIVFPQ by_residual=false). The by-residual
    form is :func:`embedding_ivfpq_res_ann` (method='ivfpq_res', r14)
    — the ADC score decomposes as the probe's per-cell centroid dot
    plus the same per-query LUT, so it is NOT entangled after all; at
    n_probe=1 (this lane probes the query's own cell) the base term is
    constant per query and the within-cell ranking runs on the
    residual LUT alone. The exact-cosine refine step absorbs most of
    the quality gap at the emitted top-1 in both forms.

    ``shortlist`` (r14, VERDICT r13 #4): override the PQ_SHORTLIST
    refine window — the recall-receipt sweep knob that separates ADC
    ranking loss from refine-window truncation (tools/ann_recall.py;
    recall@k is non-decreasing in it, pinned). Default None keeps the
    hash-pinned registered behavior (k=1 < PQ_SHORTLIST there); the
    window is clamped to k either way (ADVICE r14: a default-shortlist
    caller with k > PQ_SHORTLIST must not silently get < k rows)."""
    from ..scratch import scratch

    refine_n = max(PQ_SHORTLIST, k) if shortlist is None else max(shortlist, k)

    emb = embeddings_normed(spark, sf_dir)
    assign = _assign if _assign is not None else scratch(ivf_assign(emb))
    # the <=128-row codebook feeds BOTH the encode join and the query
    # LUT — scratch-persist it so the anchor-filter corpus scan runs once
    cb = scratch(pq_codebook(emb))
    codes = pq_codes_arr(emb, codebook=cb).withColumnRenamed("vec_id", "neighbor_id")
    # per-query LUT folded to a (code*PQ_M + m) -> lmic map: the ADC
    # score is then pure per-row array math over the codes array — the
    # (query, neighbor, m) explode + re-agg of the first cut is gone
    lutmap = pq_lut_map(emb.where(F.col("vec_id") % 50 == 0), cb)
    q = assign.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
        F.col("ne").alias("nq"), "cid",
    )
    cand = (
        q.select("query_id", "cid")
        .join(assign.select(F.col("vec_id").alias("neighbor_id"), "cid"), "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    adc = (
        cand.join(codes, "neighbor_id")
        .join(lutmap, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            pq_adc_mic(F.col("codes"), F.col("lmap")).alias("adc_mic"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("adc_mic").desc(), F.col("neighbor_id")
    )
    short = (
        adc.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= refine_n)
        .select("query_id", "neighbor_id")
    )
    nb = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv"),
        F.col("ne").alias("nn"),
    )
    scored = (
        short.join(q.select("query_id", "qv", "nq"), "query_id")
        .join(nb, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _fast_cosine(
                    as_double(F.col("qv")), as_double(F.col("nv")),
                    F.col("nq"), F.col("nn"),
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def embedding_ivfpq_res_ann(spark, sf_dir, _assign=None, k: int = 1, shortlist: int | None = None):
    """By-residual IVFADC ANN (method='ivfpq_res', r14 — Jegou et al.
    2011's by_residual=true form, FAISS's default), ORACLE-CHECKED:
    every arithmetic step is deterministic in both engines, so unlike
    the persisted lane's Lloyd-trained codebook (test-pinned), this
    lane's residual approximation itself is hash-checked against
    DuckDB. Counted-n centroids are ACTUAL stride-sampled vectors (not
    means), so the unit centroid cvn = cv/|cv| is element-exact in
    both engines and the residual xn - cvn subtracts identical
    doubles. Residual codebook = the SAME ceil(n/PQ_K) stride rule
    applied to the residual rows, codewords NOT normalized (a residual
    has no meaningful unit direction). The query's cell is probed
    (n_probe=1), candidates rank by the ADC sum of the query's
    residual-codeword dots — the per-query-constant centroid base term
    drops out of the within-cell ranking — and the top-PQ_SHORTLIST
    refine by exact cosine emits top-k exactly like 'ivfpq'.

    100 TB shape identical to 'ivfpq' (one extra broadcast of the
    sqrt(n)-row unit-centroid table into the residual map). Recall
    receipts: the sampled-anchor residual codebook is the
    oracle-replayable floor; the persisted lane's per-subspace Lloyd
    codewords are the serving default (BASELINE.md r14)."""
    from ..scratch import scratch

    # ADVICE r14: clamp the default window to k too (see embedding_ivfpq_ann)
    refine_n = max(PQ_SHORTLIST, k) if shortlist is None else max(shortlist, k)

    emb = embeddings_normed(spark, sf_dir)
    assign = _assign if _assign is not None else scratch(ivf_assign(emb))
    nrow = emb.agg(F.count(F.lit(1)).alias("n_emb"))
    centn = (
        emb.crossJoin(F.broadcast(nrow))
        .where(F.col("vec_id") % counted_stride_col(F.col("n_emb")) == 0)
        .select(
            F.col("vec_id").alias("cid"),
            F.transform(
                as_double(F.col("embedding")), lambda c: c / F.col("ne")
            ).alias("cvn"),
        )
    )
    rx = scratch(
        _pq_normed(assign, keep=("cid",))
        .join(F.broadcast(centn), "cid")
        .select(
            "vec_id",
            "cid",
            F.zip_with("xn", "cvn", lambda a, b: a - b).alias("xn"),
        )
    )
    cb = scratch(
        _pq_subvecs(
            rx.crossJoin(F.broadcast(nrow))
            .where(F.col("vec_id") % _pq_stride_col(F.col("n_emb")) == 0)
            .select("vec_id", "xn"),
            "vec_id",
            "cs",
        ).select(F.col("vec_id").alias("aid"), "m", "cs")
    )
    codes = pq_codes_from_xn(rx.select("vec_id", "xn"), cb).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    lutmap = pq_lut_map(emb.where(F.col("vec_id") % 50 == 0), cb)
    q = assign.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
        F.col("ne").alias("nq"), "cid",
    )
    cand = (
        q.select("query_id", "cid")
        .join(assign.select(F.col("vec_id").alias("neighbor_id"), "cid"), "cid")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    adc = (
        cand.join(codes, "neighbor_id")
        .join(lutmap, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            pq_adc_mic(F.col("codes"), F.col("lmap")).alias("adc_mic"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("adc_mic").desc(), F.col("neighbor_id")
    )
    short = (
        adc.withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= refine_n)
        .select("query_id", "neighbor_id")
    )
    nb = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv"),
        F.col("ne").alias("nn"),
    )
    scored = (
        short.join(q.select("query_id", "qv", "nq"), "query_id")
        .join(nb, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _fast_cosine(
                    as_double(F.col("qv")), as_double(F.col("nv")),
                    F.col("nq"), F.col("nn"),
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def embedding_near_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs within LSH buckets (threshold 0.40
    sits inside the fixture's in-bucket cosine range — max 0.4145, 5
    pairs at sf0.01, nearest excluded pair 0.3994, so the check
    discriminates and no pair is within float-rounding of the cut): the
    embedding analog of minhash dedup — bucket join bounds comparisons
    at scale."""
    emb = embeddings_normed(spark, sf_dir)
    sig = emb.select(
        "vec_id", "embedding", "ne",
        _bucket_col(as_double(F.col("embedding"))).alias("bucket"),
    )
    a = sig.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"),
        F.col("ne").alias("na"), "bucket",
    )
    b = sig.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"),
        F.col("ne").alias("nb"), "bucket",
    )
    cos = _fast_cosine(as_double(F.col("ea")), as_double(F.col("eb")), F.col("na"), F.col("nb"))
    return (
        a.join(b, "bucket")
        .where(F.col("vec_a") < F.col("vec_b"))
        .where(cos >= 0.40)
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cos_sim"))
    )


# SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup for
# pretraining corpora — cluster the embedding space coarsely, then call
# any same-cell pair above a cosine threshold a semantic duplicate.
# Candidate generation is the IVF cell equi-join (never all-pairs); the
# SEMANTIC_T = 0.422 threshold (functions/planes.py, with the oracle
# SQL) sits mid-gap in the fixture's in-cell cosine distribution (double
# math) so the check discriminates at both sf0.001 and sf0.01: nearest
# excluded 0.41924 / 0.41452, nearest included 0.42476 / 0.42923 —
# margins >= 2.8e-3, >> the 1e-6 rounding grain; pinned by the
# test_semdedup margin test.
def _semantic_pairs(assign):
    """Same-cell >= SEMANTIC_T pairs from a (vec_id, embedding, ne,
    cid, ...) assignment frame. The caller persists/pins ``assign`` —
    the self-join references it on BOTH sides, so an unpinned plan
    recomputes the broadcast-cosine assignment twice (r9 review)."""
    a = assign.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"),
        F.col("ne").alias("na"), "cid",
    )
    b = assign.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"),
        F.col("ne").alias("nb"), "cid",
    )
    cos = _fast_cosine(as_double(F.col("ea")), as_double(F.col("eb")), F.col("na"), F.col("nb"))
    return (
        a.join(b, "cid")
        .where(F.col("vec_a") < F.col("vec_b"))
        .where(cos >= SEMANTIC_T)
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cos_sim"))
    )


def embedding_semantic_pairs(spark, sf_dir, assign=None):
    """SemDeDup candidate pairs: same IVF cell AND cosine >= SEMANTIC_T.

    Differs from :func:`embedding_near_dup_pairs` in how candidates are
    generated — learned-partition cells (here the deterministic
    counted-n rule, k ~ sqrt(n); sampled k-means at real scale) instead
    of random hyperplane buckets. Cells adapt to the data's density so
    recall concentrates where the corpus actually clusters, which is
    exactly the regime semantic duplicates live in. Shape: one
    ~sqrt(n)-row centroid broadcast + one cell equi-join — the per-cell
    pair count is ~|cell|^2/2 with |cell| ~ sqrt(n), so assignment AND
    pair join both run ~n^1.5 (the balanced IVF sizing). The assignment
    is scratch-persisted so the self-join's two sides share one
    computation (released at the next registry entry).

    ``assign``: an already-pinned ivf_assign frame to reuse instead of
    building one — late-r9: train_test_split computes the assignment
    ONCE (tracked checkpoint) and feeds both the curated semantic
    stage here and the cluster_balance caps, instead of paying the
    broadcast-cosine pass twice inside one entry."""
    from ..scratch import scratch

    if assign is not None:
        return _semantic_pairs(assign)
    emb = embeddings_normed(spark, sf_dir)
    return _semantic_pairs(scratch(ivf_assign(emb)))


def semdedup_prune(spark, sf_dir, assign=None, _parents=None):
    """SemDeDup's keep-rule over the semantic pair graph: connected
    components of same-cell duplicate pairs (star-CC, the shared
    _dedup_core machinery), and within each component KEEP the vector
    LEAST similar to its cell centroid (the paper's rule — the kept
    example is the most "marginal" one, preserving diversity), ties
    broken by lowest vec_id. Returns (vec_id, cid, component, keep).

    Scale shape: pair graph is cell-bounded (see
    :func:`embedding_semantic_pairs`), star-CC is ~log n rounds, the
    keep decision is one window over components — no driver-side loops
    beyond CC's bounded convergence probe. ONE scratch-persisted
    assignment feeds the pair join's both sides AND the keep-rule
    labeling (r9 review: calling embedding_semantic_pairs here instead
    recomputed the broadcast-cosine assignment up to four times).

    ``assign``: an already-pinned (vec_id, embedding, ne, cid, cos_c)
    assignment to run the rule over instead of the stride geometry —
    r10: ann_index.kmeans_assign(keep_centroid_cos=True) drives the
    whole prune through fixed-k sampled-k-means cells, the 100 TB
    geometry (k ~ sqrt(n): bounded broadcast, sub-quadratic assignment
    AND pair join — sizing analysis in ann_index.kmeans_centroids).

    ``_parents``: a precomputed CC parents frame (child ``a`` -> root
    ``b``) over this assign's pair graph — r15: dedup_cluster_canonical
    runs ONE fused star-CC over the text and semantic edge sets (on
    disjoint encoded id spaces) and hands the decoded semantic half
    here, instead of this function paying a second full CC loop. The
    caller owns the equivalence argument (same pair generator, same
    assign)."""
    from ..scratch import scratch
    from ._dedup_core import star_connected_components

    if assign is None:
        # zero/NULL-norm vectors have no cosine cell: exclude them from
        # the PRUNE SURFACE exactly as the CC oracle's sassign
        # `WHERE norm2 > 0` does (r10, found by the nulls-axis sweep —
        # the pair surfaces never exposed this because a NULL cosine
        # fails the >= T threshold in both engines, but the prune
        # LABELS every assigned vector). The filter applies AFTER
        # assignment: the counted-n centroid set (and its count n) must
        # stay the unfiltered rule (the oracle's cent CTE counts every
        # row and keeps null-embedding centroids, which shape cells
        # only through the shared tie-break).
        emb = embeddings_normed(spark, sf_dir)
        assign = scratch(
            ivf_assign(emb, keep_centroid_cos=True).where(F.col("ne") > 0)
        )
    if _parents is None:
        pairs = _semantic_pairs(assign).select(
            F.col("vec_a").alias("a"), F.col("vec_b").alias("b")
        )
        parents, _ = star_connected_components(pairs)
    else:
        parents = _parents
    labeled = (
        assign.select("vec_id", "cid", "cos_c")
        .join(
            parents.select(F.col("a").alias("vec_id"), F.col("b").alias("root")),
            "vec_id",
            "left",
        )
        .select(
            "vec_id", "cid", "cos_c", F.coalesce("root", "vec_id").alias("component")
        )
    )
    # rank on the 6dp-ROUNDED centroid cosine: the keep rule is part of
    # the dedup_cluster_canonical space='semantic' oracle contract (r9),
    # and raw-double ordering could flip a keeper across engines on a
    # sub-rounding-grain cosine difference; ties -> lowest vec_id
    w = Window.partitionBy("component").orderBy(
        F.round(F.col("cos_c"), 6).asc(), F.col("vec_id")
    )
    return labeled.select(
        "vec_id",
        "cid",
        "component",
        (F.row_number().over(w) == 1).cast("int").alias("keep"),
    )
