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

from functools import reduce

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from ..functions.planes import (  # noqa: F401 (EMB_NEAR_DUP_SQL/SEMANTIC_PAIRS_SQL re-exported for dedup)
    ASSIGN_SQL,
    DIM,
    EMB_NEAR_DUP_SQL,
    IVF_CENT_SQL,
    SEMANTIC_PAIRS_SQL,
    SEMANTIC_T,
    bucket_col as _bucket_col,
    bucket_sql as _bucket_sql,
    counted_stride_col,
    first_sql,
    nearest_sql,
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


def _nearest_centroids(
    rows, table, n: int = 1, *, on=None, keep=("vec_id", "embedding", "ne"),
    vec=("embedding", "ne"), by=("vec_id",), keep_cos: bool = False, rank=None,
):
    """The nearest-centroid ranker every IVF quantizer shares, oracle
    lane and persisted lane alike: each row of ``rows`` is scored by
    :func:`_fast_cosine` against a broadcast centroid ``table`` —
    crossed with it, or hash-joined to it on the parent key ``on`` —
    and the top ``n`` per ``by`` group are kept, ordered by (cos desc,
    centroid id), so ties go to the lowest id.

    ``table`` is a centroid level (cid, cv, nc[, scid]), scored as
    ``cos_c``, or a super level (scid, sv, ns), scored as ``cos_s``.
    ``vec`` names the rows' (vector, norm) columns. A float vector (the
    corpus, the oracle lane's tables) is cast with :func:`as_double`;
    an array<double> one (the persisted lane's trained tables) is read
    as is.
    Returns ``keep`` (names or aliased columns), the centroid id, the
    score when ``keep_cos``, and the rank when a ``rank`` name is
    given."""
    cid, cv, nc, cos = (
        ("scid", "sv", "ns", "cos_s") if "sv" in table.columns else ("cid", "cv", "nc", "cos_c")
    )
    joined = (
        rows.crossJoin(F.broadcast(table)) if on is None else rows.join(F.broadcast(table), on)
    )
    rn = rank or "rn"
    w = Window.partitionBy(*by).orderBy(F.col(cos).desc(), F.col(cid))
    top = (
        joined.select(
            *keep,
            cid,
            _fast_cosine(
                _as_f64(joined, vec[0]), _as_f64(joined, cv), F.col(vec[1]), F.col(nc)
            ).alias(cos),
        )
        .withColumn(rn, F.row_number().over(w))
        # an argmax filters rn = 1, as the oracle SQL does
        .where(F.col(rn) == 1 if n == 1 else F.col(rn) <= n)
    )
    return top.drop(*[c for c, kept in ((cos, keep_cos), (rn, rank)) if not kept])


def _as_f64(df, name: str):
    """Column ``name`` of ``df`` as array<double>: cast unless it is one."""
    col = F.col(name)
    return col if df.schema[name].dataType.elementType == DoubleType() else as_double(col)


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


def _tail_sql(method: str, src: str, keep: str = "rk = 1") -> str:
    """The per-query top-k tail every embedding_ann_topk oracle ends in:
    rank ``src``'s (query_id, neighbor_id, cos_sim) rows by (cos desc,
    neighbor id) and tag the kept ones with ``method``."""
    return f"""SELECT '{method}' AS method, query_id, neighbor_id, cos_sim, rk FROM (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
  FROM {src}
) WHERE {keep}"""


_BRUTE_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round({cosine_sql('q.qv', 'e.embedding')}, 6) + 0.0 AS cos_sim
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id
)
{_tail_sql('brute', 'scored', 'rk <= 5')}
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
    return _top_k(scored, k)


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
{_tail_sql('simhash', 'scored')}
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
    return _top_k(scored, k)


# The counted-n centroid rule (k ~ sqrt(n), r11) lives in
# functions/planes.py with the other oracle-shared constants.
_IVF_ANN_SQL = f"""
WITH cent AS {IVF_CENT_SQL},
{ASSIGN_SQL},
q AS (SELECT vec_id AS query_id, embedding AS qv, cid FROM assign WHERE vec_id % 50 = 0),
scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id,
         round({cosine_sql('q.qv', 'a.embedding')}, 6) + 0.0 AS cos_sim
  FROM q JOIN assign a ON a.cid = q.cid AND a.vec_id <> q.query_id
)
{_tail_sql('ivf', 'scored')}
"""


# Two-level COUNTED rule (r11): super-centroids = the counted rule
# applied to the centroid table's RANK order (every stride2-th centroid
# by cid rank, stride2 = ceil(k/floor(sqrt(k)))) — every stage is a
# deterministic argmax both engines replay bit-for-bit, so the
# HIERARCHICAL approximation itself is oracle-checkable: identical
# prune, identical cells, identical neighbors in Spark and DuckDB.
# Assignment FLOPs: n·k^(1/2) per level ~ 2n·n^(1/4) total (vs the flat
# counted rule's n·sqrt(n)) — at 1e9 docs, ~3.6e11 vs 3e13 cosines.
# The geometry (supers, each centroid's parent super, each vector's
# coarse super and its cell among that super's children) is shared by
# the single- and multi-probe lanes.
_IVF2_GEOMETRY_SQL = f"""WITH cent AS {IVF_CENT_SQL},
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
{nearest_sql('cid, cv, scid', 'c.cid, c.cv, s.scid', 'c.cid',
             'c.cv', 's.sv', 's.scid', 'cent c CROSS JOIN sup s')}
),
coarse AS (
{nearest_sql('vec_id, embedding, scid', 'e.vec_id, e.embedding, s.scid', 'e.vec_id',
             'e.embedding', 's.sv', 's.scid', 'embeddings e CROSS JOIN sup s')}
),
assign2 AS (
{nearest_sql('vec_id, embedding, cid', 'x.vec_id, x.embedding, p.cid', 'x.vec_id',
             'x.embedding', 'p.cv', 'p.cid', 'coarse x JOIN parent p ON p.scid = x.scid')}
),"""

_IVF2_ANN_SQL = f"""
{_IVF2_GEOMETRY_SQL}
q2 AS (SELECT vec_id AS query_id, embedding AS qv, cid FROM assign2 WHERE vec_id % 50 = 0),
scored2 AS (
  SELECT q2.query_id, a.vec_id AS neighbor_id,
         round({cosine_sql('q2.qv', 'a.embedding')}, 6) + 0.0 AS cos_sim
  FROM q2 JOIN assign2 a ON a.cid = q2.cid AND a.vec_id <> q2.query_id
)
{_tail_sql('ivf2', 'scored2')}
"""


# Deterministic multi-probe (r12, VERDICT r11 #4 — the hash-checked
# lane's recall knob): same geometry CTEs as _IVF2_ANN_SQL, but each
# query keeps its top-PROBES supers (rn <= p on the very window the
# single-probe form argmaxes) and the max-cosine CHILD within each —
# candidate set = union of <= p cells, a superset of single-probe's,
# so recall-vs-brute is monotone in p. Every stage stays a
# deterministic rank: the p>1 approximation is replayed bit-for-bit.
IVF2_PROBES = 2

_QSUP_SQL = nearest_sql(
    "query_id, qv, scid", "e.vec_id AS query_id, e.embedding AS qv, s.scid", "e.vec_id",
    "e.embedding", "s.sv", "s.scid",
    "embeddings e CROSS JOIN sup s\n    WHERE e.vec_id % 50 = 0", f"rn <= {IVF2_PROBES}",
)

_IVF2P_ANN_SQL = f"""
{_IVF2_GEOMETRY_SQL}
qsup AS (
{_QSUP_SQL}
),
qcell AS (
{nearest_sql('query_id, qv, cid', 'q.query_id, q.qv, p.cid', 'q.query_id, q.scid',
             'q.qv', 'p.cv', 'p.cid', 'qsup q JOIN parent p ON p.scid = q.scid')}
),
scoredp AS (
  SELECT qc.query_id, a.vec_id AS neighbor_id,
         round({cosine_sql('qc.qv', 'a.embedding')}, 6) + 0.0 AS cos_sim
  FROM qcell qc JOIN assign2 a ON a.cid = qc.cid AND a.vec_id <> qc.query_id
)
{_tail_sql(f'ivf2_p{IVF2_PROBES}', 'scoredp')}
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


def _pq_chain_sql(method: str, x: str, rows: str, sfx: str) -> str:
    """The IVFADC chain both PQ oracles share, from the codebook to the
    top-k tail: PQ_K stride-sampled anchors of the encoded vectors
    ``x`` in ``rows`` give each subspace's codewords, every row takes
    its argmin-L2 code, each query's cell is ranked by its ADC score
    over a LUT of normalized-query-to-codeword dots, and the top
    PQ_SHORTLIST are refined by exact cosine. ``sfx`` suffixes the CTE
    names (the residual lane's chain reads anchr .. scoredpqr)."""
    qp = f"qp{sfx} qp" if sfx else "qp"
    return f"""anch{sfx} AS (
  SELECT vec_id AS aid, {x} FROM {rows},
       (SELECT greatest(1, CAST(ceil(CAST(count(*) AS DOUBLE) / {PQ_K}.0) AS BIGINT)) AS stride
        FROM embeddings) s
  WHERE vec_id % s.stride = 0
),
cb{sfx} AS (
  SELECT aid, m, list_slice({x}, m*{PQ_SUB}+1, m*{PQ_SUB}+{PQ_SUB}) AS cs
  FROM anch{sfx}, generate_series(0, {PQ_M - 1}) t(m)
),
xs{sfx} AS (
  SELECT vec_id, m, list_slice({x}, m*{PQ_SUB}+1, m*{PQ_SUB}+{PQ_SUB}) AS sv
  FROM {rows}, generate_series(0, {PQ_M - 1}) t(m)
),
codes{sfx} AS (
{first_sql('vec_id, m, code', 'x.vec_id, x.m, c.aid AS code', 'x.vec_id, x.m',
           f"{l2sq_sql('x.sv', 'c.cs')}, c.aid", f'xs{sfx} x JOIN cb{sfx} c ON c.m = x.m')}
),
qp{sfx} AS (SELECT vec_id AS query_id, embedding AS qv, cid FROM assign WHERE vec_id % 50 = 0),
lut{sfx} AS (
  SELECT n.vec_id AS query_id, c.m, c.aid,
         CAST(CAST(round({dot_sql(f'list_slice(n.xn, c.m*{PQ_SUB}+1, c.m*{PQ_SUB}+{PQ_SUB})', 'c.cs')}, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS lmic
  FROM nv n CROSS JOIN cb{sfx} c
  WHERE n.vec_id % 50 = 0
),
adc{sfx} AS (
  SELECT qp.query_id, a.vec_id AS neighbor_id, sum(l.lmic) AS adc_mic
  FROM {qp} JOIN assign a ON a.cid = qp.cid AND a.vec_id <> qp.query_id
  JOIN codes{sfx} k ON k.vec_id = a.vec_id
  JOIN lut{sfx} l ON l.query_id = qp.query_id AND l.m = k.m AND l.aid = k.code
  GROUP BY qp.query_id, a.vec_id
),
short{sfx} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY adc_mic DESC, neighbor_id) AS rn
    FROM adc{sfx}
  ) WHERE rn <= {PQ_SHORTLIST}
),
scoredpq{sfx} AS (
  SELECT s.query_id, s.neighbor_id,
         round({cosine_sql('qp.qv', 'e.embedding')}, 6) + 0.0 AS cos_sim
  FROM short{sfx} s JOIN {qp} ON qp.query_id = s.query_id
  JOIN embeddings e ON e.vec_id = s.neighbor_id
)
{_tail_sql(method, f'scoredpq{sfx}')}"""


# The flat assignment and the unit vectors both PQ chains encode from.
_PQ_HEAD_SQL = f"""WITH cent AS {IVF_CENT_SQL},
{ASSIGN_SQL},
nv AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) / sqrt({norm2_sql('embedding')})) AS xn
  FROM embeddings WHERE {norm2_sql('embedding')} > 0
),"""

_IVFPQ_ANN_SQL = f"""
{_PQ_HEAD_SQL}
{_pq_chain_sql('ivfpq', 'xn', 'nv', '')}
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
{_PQ_HEAD_SQL}
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
{_pq_chain_sql('ivfpq_res', 'rx', 'rres', 'r')}
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
    "child of each of their top-2 supers (srn <= p on the same windows "
    "the single-probe form argmaxes), candidate sets are supersets of "
    "ivf2's, recall-vs-brute monotone in p (receipt in BASELINE.md). "
    "'ivfpq' (r12): the IVFADC composite (Jegou et al. 2011) — the "
    "query's cell ranked by ADC over 4-byte PQ codes (constant 128-row "
    "codebook, integer micro-grid sums) without touching raw vectors, "
    "exact-cosine refine on the top-10 — the 64x-compressed memory "
    "lane, quantization error hash-checked (receipt in BASELINE.md). r13 adds the family-wide recall@10-vs-brute receipt (BASELINE.md r13 'ANN recall@10 receipt' — monotone in the ivf2 probe count at both fixture scales, pinned) and k= parameters on every method function (registry output unchanged). "
    "'ivfpq_res' (r14): the BY-RESIDUAL IVFADC form (Jegou et al.'s "
    "by_residual=true) hash-checked end to end — counted-n centroids "
    "are actual sampled vectors, so the unit-centroid subtraction and "
    "the stride-sampled residual codebook are engine-exact; the "
    "per-query centroid base term is constant in the probed cell and "
    "drops out of the ADC ranking; shortlist= sweepable on both PQ "
    "lanes (recall non-decreasing, pinned; the persisted serving lane "
    "adds per-subspace Lloyd residual codewords, BASELINE.md r14). "
    "Shared pieces: the cell lanes read one in-cell exact-cosine "
    "scorer (_in_cell_scored) over the flat path (_flat_scored: one "
    "assignment, one scored join for ivf, ivfpq and ivfpq_res) and the "
    "two-level path (_ivf2_scored: one geometry, one assignment, probe "
    "cells with their super rank srn, one scored join; the lane for p "
    "probes is srn <= p); both PQ lanes build their (codes, lut) in "
    "_pq_tables and run one lane-discriminated ADC -> shortlist -> "
    "refine -> top-k chain (_pq_topk). The standalone lane functions "
    "(embedding_ivf_ann, embedding_ivf2_ann(probes, k), "
    "embedding_ivfpq_ann / embedding_ivfpq_res_ann(k, shortlist)) call "
    "the same functions with their own parameters.",
)
def embedding_ann_topk(spark, sf_dir):
    # serial: the four construction chains (brute | simhash |
    # flat-assignment family | two-level family) are independent, but
    # building them on driver threads ran 7 % faster at 4 cores
    # (tools/ab.py warm rep, sf0.1, 10 pairs), under the 10 % an overlap
    # must earn
    def tag(method, lane):
        return lane.select(
            F.lit(method).alias("method"), "query_id", "neighbor_id", "cos_sim", "rk"
        )

    emb = embeddings_normed(spark, sf_dir)
    assign1, scored1 = _flat_scored(emb)
    scored2 = _ivf2_scored(emb, IVF2_PROBES)
    pq = _pq_topk([_pq_tables(emb, assign1, m) for m in ("ivfpq", "ivfpq_res")], scored1, 1)
    return (
        tag("brute", embedding_cosine_topk(spark, sf_dir))
        .unionByName(tag("simhash", embedding_simhash_ann(spark, sf_dir)))
        .unionByName(tag("ivf", _top_k(scored1, 1)))
        .unionByName(pq)
        .unionByName(tag("ivf2", _ivf2_lane(scored2, 1, 1)))
        .unionByName(tag(f"ivf2_p{IVF2_PROBES}", _ivf2_lane(scored2, IVF2_PROBES, 1)))
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
    return _nearest_centroids(emb, _counted_centroids(emb), keep_cos=keep_centroid_cos)


def _counted_centroids(emb):
    """The counted-n centroid table (cid, cv, nc) of
    planes.IVF_CENT_SQL: count n once (a 1-row aggregate attached as a
    bounded broadcast, no driver action) and keep every
    ceil(n / floor(sqrt(n)))-th vec_id."""
    nrow = emb.agg(F.count(F.lit(1)).alias("n_emb"))
    return (
        emb.crossJoin(F.broadcast(nrow))
        .where(F.col("vec_id") % counted_stride_col(F.col("n_emb")) == 0)
        .select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"),
            F.col("ne").alias("nc"),
        )
    )


def _with_parent(cent, sup):
    """Each centroid of ``cent`` (cid, cv, nc) with the super cell it
    ranks first in ``sup`` (scid, sv, ns): (cid, cv, nc, scid) — the
    children table of a two-level geometry, in both lanes."""
    return _nearest_centroids(cent, sup, keep=("cid", "cv", "nc"), vec=("cv", "nc"), by=("cid",))


def _ivf2_geometry(emb):
    """The two bounded tables of the two-level counted rule (r11,
    factored r12 so the multi-probe query path shares them): ``sup``
    (~n^(1/4) super-centroids — the counted rule applied to the
    centroid table's cid-rank order) and ``parent`` (~sqrt(n) child
    centroids, each argmaxed to its super). Both broadcast-bounded;
    the rank window is single-partition over the sqrt(n)-row centroid
    table only."""
    cent = _counted_centroids(emb)
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
    return sup, _with_parent(cent, sup)


def ivf2_probe_cells(emb, queries, probes: int):
    """Deterministic multi-probe for the hash-checked two-level lane
    (r12, VERDICT r11 #4 — the oracle lane's recall knob): each query
    ranks the super-centroids and probes its top-``probes`` supers
    (``srn <= probes`` on the same window the single-probe lane
    argmaxes), then takes the max-cosine CHILD within each probed
    super. Returns (query_id, qv, nq, cid, srn) with <= probes rows per
    query; cells are distinct because every child has exactly one
    parent. The srn == 1 rows reproduce :func:`ivf2_assign`'s query
    cell bit-for-bit (same windows, same tie-breaks), and the probed
    cell SET grows monotonically with ``probes`` — so candidate sets
    are supersets and recall-vs-brute is monotone non-decreasing
    (pinned in tests). Every stage stays a deterministic rank, so the
    p>1 approximation is DuckDB-replayable like the rest of the lane."""
    return _ivf2_probe(queries, _ivf2_geometry(emb), probes)


def _ivf2_probe(queries, geo, probes: int):
    """:func:`ivf2_probe_cells` over a prebuilt (sup, parent) geometry."""
    sup, parent = geo
    qsup = _nearest_centroids(
        queries, sup, probes,
        keep=(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
            F.col("ne").alias("nq"),
        ),
        by=("query_id",), rank="srn",
    )
    return _nearest_centroids(
        qsup, parent, on="scid", keep=("query_id", "qv", "nq", "scid", "srn"),
        vec=("qv", "nq"), by=("query_id", "scid"),
    ).select("query_id", "qv", "nq", "cid", "srn")


def ivf2_assign(emb, keep_centroid_cos: bool = False):
    """Two-level counted-rule assignment (r11) — the DETERMINISTIC,
    oracle-replayable form of ann_index.kmeans_assign_two_level; both
    run the one two-level assignment (:func:`_ivf2_assign`) and differ
    only in how the (sup, parent) tables are built:

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
    tests/test_fixedk_semantic.py shows the composition."""
    return _ivf2_assign(emb, _ivf2_geometry(emb), keep_centroid_cos)


def _ivf2_assign(
    emb, geo, keep_centroid_cos: bool = False, n_super_probe: int = 1, keep_top: int = 1
):
    """:func:`ivf2_assign` over a prebuilt (sup, parent) geometry — the
    one two-level assignment, also run by the persisted k-means lane
    (ann_index) over its Lloyd-trained (sup, children) tables: each
    vector keeps its ``n_super_probe`` best super cells, then the
    ``keep_top`` best children among theirs, joined on scid by a
    broadcast hash join."""
    sup, parent = geo
    coarse = _nearest_centroids(emb, sup, n_super_probe)
    return _nearest_centroids(coarse, parent, keep_top, on="scid", keep_cos=keep_centroid_cos)


def semantic_cell_profile(assign) -> dict:
    """Cell-size balance stats for an in-memory assignment frame — the
    counted-n twin of ann_index.index_stats (r11). The counted rule's
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


def _in_cell_scored(cells, assign):
    """The in-cell EXACT cosine set — the one scorer every cell-probing
    lane reads: each (query_id, qv, nq, cid[, srn]) probe cell joined to
    its catalog cell-mates in ``assign`` -> (query_id[, srn],
    neighbor_id, cos_sim 6dp). The ivf lanes window-rank it directly;
    the PQ lanes read it as their ADC candidate pairs AND as their
    refine scores (r15: computed once, not re-derived per lane)."""
    return (
        cells.join(assign, "cid")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            *cells.drop("qv", "nq", "cid").columns,
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


def _top_k(scored, k: int, by=("query_id",)):
    """The top-``k`` rows per ``by`` group of a scored frame, ranked by
    (cos_sim desc, neighbor_id), with the rank as ``rk``."""
    w = Window.partitionBy(*by).orderBy(F.col("cos_sim").desc(), F.col("neighbor_id"))
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


def _flat_scored(emb):
    """The flat-IVF path: (assign, scored) — the scratch-persisted
    counted-n cell assignment and the scratch-persisted in-cell exact
    cosine set of the %50 queries probing their own cell. 'ivf' ranks
    ``scored``; both PQ lanes encode over ``assign`` and refine from
    ``scored`` (r12/r15: one assignment, one scoring join for all
    three)."""
    from ..scratch import scratch

    assign = scratch(ivf_assign(emb))
    cells = assign.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"),
        F.col("ne").alias("nq"), "cid",
    )
    return assign, scratch(_in_cell_scored(cells, assign))


def _ivf2_scored(emb, probes: int):
    """The two-level path (r16): ONE geometry feeds the
    scratch-persisted catalog assignment AND the %50 queries' probe
    cells (top-``probes`` supers, super rank ``srn`` kept), and ONE
    scoring join over them is scratch-persisted with ``srn``. The lane
    for any p <= ``probes`` is then its srn <= p rows
    (:func:`_ivf2_lane`): the srn == 1 cells are the single-probe
    cells bit-for-bit (same windows, same tie-breaks)."""
    from ..scratch import scratch

    geo = _ivf2_geometry(emb)
    assign = scratch(_ivf2_assign(emb, geo))
    cells = _ivf2_probe(emb.where(F.col("vec_id") % 50 == 0), geo, probes)
    return scratch(_in_cell_scored(cells, assign))


def _ivf2_lane(scored, probes: int, k: int):
    """Top-``k`` of the ``probes``-probe lane of :func:`_ivf2_scored`."""
    return _top_k(scored.where(F.col("srn") <= probes).drop("srn"), k)


def embedding_ivf2_ann(spark, sf_dir, probes: int = 1, k: int = 1):
    """IVF ANN over the two-level counted assignment (method='ivf2'):
    each query probes the top-1 child of each of its top-``probes``
    super cells (:func:`ivf2_probe_cells`), exact re-rank, top-``k``.
    probes=1 is the query's own two-level cell; ``probes`` > 1 (r12,
    registry method='ivf2_p2') is the deterministic multi-probe — the
    candidate set is a superset of the single-probe one, so
    recall-vs-brute rises monotonically (receipt in BASELINE.md). The
    catalog side is the one two-level assignment either way, built
    from the same geometry as the probe cells (:func:`_ivf2_scored`,
    the path the registry entry runs)."""
    scored = _ivf2_scored(embeddings_normed(spark, sf_dir), probes)
    return _ivf2_lane(scored, probes, k)


def embedding_ivf_ann(spark, sf_dir, k: int = 1):
    """IVF-style ANN (the other scale path): deterministic counted-n
    coarse centroids (k ~ sqrt(n)), vectors assigned to their
    max-cosine cell, queries probe their own cell only, exact re-rank
    inside, top-``k``. At 100 TB: centroids come from sampled k-means
    (the ann_index build), cells partition the index, multi-probe
    tunes recall — the cell join shape AND the k ~ sqrt(n) sizing are
    identical to this oracle-checked form. Runs the registry entry's
    flat path (:func:`_flat_scored`)."""
    return _top_k(_flat_scored(embeddings_normed(spark, sf_dir))[1], k)


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


def _pq_tables(emb, assign, method: str):
    """One IVFADC lane's tables over the flat assignment, both tagged
    with ``method``: (method, neighbor_id, codes) and (method,
    query_id, lmap), the LUT over the normalized %50 queries.

    'ivfpq' encodes the unit vector against the stride-anchor codebook
    (:func:`pq_codebook`). 'ivfpq_res' (r14) encodes the residual
    xn - cvn, cvn = the cell's UNIT centroid (counted-n centroids are
    actual sampled vectors, so cvn is element-exact in both engines),
    against the same ceil(n/PQ_K) stride rule applied to the residual
    rows, codewords NOT normalized. Codebooks feed both the encode and
    the LUT, and the residual rows both the anchors and the encode, so
    those are scratch-persisted."""
    from ..scratch import scratch

    if method == "ivfpq":
        cb = scratch(pq_codebook(emb))
        codes = pq_codes_arr(emb, codebook=cb)
    else:
        nrow = emb.agg(F.count(F.lit(1)).alias("n_emb"))
        centn = _counted_centroids(emb).select(
            "cid", F.transform(as_double(F.col("cv")), lambda c: c / F.col("nc")).alias("cvn")
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
        codes = pq_codes_from_xn(rx.select("vec_id", "xn"), cb)
    lut = pq_lut_map(emb.where(F.col("vec_id") % 50 == 0), cb)
    tag = F.lit(method).alias("method")
    return (
        codes.select(tag, F.col("vec_id").alias("neighbor_id"), "codes"),
        lut.select(tag, "query_id", "lmap"),
    )


def _pq_topk(tables, scored, k: int, shortlist: int | None = None):
    """The IVFADC chain for any set of lanes (r15): ADC -> shortlist ->
    refine -> top-``k``, ranked per (method, query_id) over the union of
    the lanes' :func:`_pq_tables`, so the candidate join, the ADC
    window, the refine join and the final window each run once however
    many lanes ride along. Candidates are the in-cell pairs of
    ``scored`` (:func:`_in_cell_scored`); each lane keeps its top
    ``shortlist`` (default PQ_SHORTLIST, clamped to ``k`` either way —
    ADVICE r14: a default-shortlist caller with k > PQ_SHORTLIST must
    not silently get < k rows) by (adc_mic desc, neighbor_id), and the
    refine reads those pairs' exact cosines from ``scored``. Returns
    (method, query_id, neighbor_id, cos_sim, rk)."""
    refine_n = max(PQ_SHORTLIST if shortlist is None else shortlist, k)
    codes, luts = (reduce(lambda a, b: a.unionByName(b), side) for side in zip(*tables))
    adc = (
        scored.select("query_id", "neighbor_id")
        .join(codes, "neighbor_id")
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
    return _top_k(
        short.join(scored, ["query_id", "neighbor_id"]), k, by=("method", "query_id")
    ).select("method", "query_id", "neighbor_id", "cos_sim", "rk")


def _pq_lane(spark, sf_dir, method: str, k: int, shortlist: int | None):
    """One IVFADC lane alone: the registry entry's flat path and chain."""
    emb = embeddings_normed(spark, sf_dir)
    assign, scored = _flat_scored(emb)
    tables = [_pq_tables(emb, assign, method)]
    return _pq_topk(tables, scored, k, shortlist).drop("method")


def embedding_ivfpq_ann(spark, sf_dir, k: int = 1, shortlist: int | None = None):
    """IVFADC ANN (method='ivfpq', r12 — Jegou et al. 2011): queries
    probe their counted-n IVF cell, candidates are ranked by the ADC
    score over 4-byte PQ codes WITHOUT touching raw vectors (the sum
    over subspaces of the query's precomputed codeword dots, integer
    micro-grid so the sum is exact), the top-PQ_SHORTLIST re-rank by
    exact cosine, top-``k`` emitted — the standard refine step. Every
    stage is a deterministic rank over engine-identical values, so the
    PQ approximation itself is hash-checked against DuckDB.

    100 TB shape: all joins are equi (cid / m / code / neighbor_id);
    broadcasts are the sqrt(n) centroid table + 1-row count (the
    shared IVF assignment) and the CONSTANT <=128-row codebook; the
    in-cell ADC scan reads PQ_M longs per candidate instead of the
    256-byte vector — the memory-bandwidth win PQ exists for.

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
    ranking loss from refine-window truncation (BASELINE.md r14 "ANN
    recall@10 — shortlist sweep"; recall@k is non-decreasing in it,
    pinned). Default None keeps the hash-pinned registered behavior. Runs the registry entry's flat
    path and IVFADC chain (:func:`_pq_topk`) for this lane alone; the
    refine reads the in-cell exact-cosine set, so a standalone call
    scores every in-cell pair, not only the shortlist."""
    return _pq_lane(spark, sf_dir, "ivfpq", k, shortlist)


def embedding_ivfpq_res_ann(spark, sf_dir, k: int = 1, shortlist: int | None = None):
    """By-residual IVFADC ANN (method='ivfpq_res', r14 — Jegou et al.
    2011's by_residual=true form, FAISS's default), ORACLE-CHECKED:
    every arithmetic step is deterministic in both engines, so unlike
    the persisted lane's Lloyd-trained codebook (test-pinned), this
    lane's residual approximation itself is hash-checked against
    DuckDB. The codes are the residual ones of :func:`_pq_tables`. The
    query's cell is probed (n_probe=1), candidates rank by the ADC sum
    of the query's residual-codeword dots — the per-query-constant
    centroid base term drops out of the within-cell ranking — and the
    top-``shortlist`` refine by exact cosine emits top-``k`` exactly
    like :func:`embedding_ivfpq_ann`, through the same chain.

    100 TB shape identical to 'ivfpq' (one extra broadcast of the
    sqrt(n)-row unit-centroid table into the residual map). Recall
    receipts: the sampled-anchor residual codebook is the
    oracle-replayable floor; the persisted lane's per-subspace Lloyd
    codewords are the serving default (BASELINE.md r14)."""
    return _pq_lane(spark, sf_dir, "ivfpq_res", k, shortlist)


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
