"""Registered oracle-checked queries for the PS kernel + ML layers
(SURVEY.md §2 A2–A6, B1–B11). Oracle SQL is generated from the same
constants/SQL-twins as the Spark expressions, so they cannot drift.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.hashing import int_hash2, int_hash2_sql
from ..functions.vectors import dot_sql, norm2_sql
from ..operators._util import STEP_DEC, overlap, t
from ..plans.registry import register
from ..scratch import scratch
from . import mf, pa
from .factors import factor_element, factor_element_sql, factor_vector_sql

UVEC_SQL = factor_vector_sql('"user"', mf.K, mf.USER_SEED, mf.FACTOR_LO, mf.FACTOR_HI)
IVEC_SQL = factor_vector_sql("item", mf.K, mf.ITEM_SEED, mf.FACTOR_LO, mf.FACTOR_HI)
RATINGS_SQL = (
    'SELECT o_custkey AS "user", l_partkey AS item, CAST(l_quantity AS DOUBLE) AS rating '
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
)
W0_SQL = lambda f_expr: factor_element_sql("0", f_expr, pa.W_SEED, pa.W_LO, pa.W_HI)  # noqa: E731
W0_ARR_SQL = f"list_transform(range(0, {pa.N_FEATURES}), f -> {W0_SQL('f')})"
CW0_SQL = lambda c_expr, f_expr: factor_element_sql(c_expr, f_expr, pa.W_SEED, pa.W_LO, pa.W_HI)  # noqa: E731


# ---------------------------------------------------------------------------
# A2-A6/B11 — the PS kernel surface as ONE query (pull, push-fold,
# dump->load->pull), discriminated by `op` (registry consolidation, r3)
# ---------------------------------------------------------------------------

_INIT0_SQL = lambda id_expr: factor_element_sql(id_expr, "0", mf.ITEM_SEED, mf.FACTOR_LO, mf.FACTOR_HI)  # noqa: E731


@register(
    "ps_kernel_ops",
    oracle=f"""
WITH pull_keys AS (
  SELECT DISTINCT l_partkey AS param_id FROM lineitem WHERE l_orderkey % 100 = 0
),
push_folded AS (
  SELECT l_partkey AS param_id,
         {_INIT0_SQL('l_partkey')}
         + 0.001 * CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS w
  FROM lineitem GROUP BY l_partkey
),
dumped AS (
  SELECT l_partkey AS param_id,
         {_INIT0_SQL('l_partkey')}
         + 0.001 * CAST(sum(CAST(l_quantity * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS w
  FROM lineitem WHERE l_partkey % 3 = 0 GROUP BY l_partkey
)
SELECT 'pull' AS op, param_id, CAST(j AS BIGINT) AS dim,
       round({factor_element_sql('param_id', 'j', mf.ITEM_SEED, mf.FACTOR_LO, mf.FACTOR_HI)}, 6) + 0.0 AS w
FROM pull_keys CROSS JOIN (SELECT unnest(range(0, {mf.K})) AS j)
UNION ALL
SELECT 'push' AS op, param_id, 0 AS dim, round(w, 6) + 0.0 AS w FROM push_folded
UNION ALL
SELECT 'load_pull' AS op, p_partkey AS param_id, 0 AS dim,
       round(coalesce(d.w, {_INIT0_SQL('p_partkey')}), 6) + 0.0 AS w
FROM part LEFT JOIN dumped d ON d.param_id = p_partkey
WHERE p_partkey % 20 = 0
""",
    tags=("A2", "A3", "A4", "A5", "A6", "B11"),
    doc="The PS kernel surface in one query, discriminated by `op` "
    "(consolidated from ps_pull_factors / ps_push_update / "
    "ps_model_load_pull so the driver verifies every op). "
    "'pull': workers resolve parameter values via equi-join with lazy "
    "deterministic init (ParameterServerClient#pull [C-high], "
    "server/SimplePSLogic [C-med]). 'push': additive deltas summed per "
    "param (map-side combine = common/CombinationLogic [C-med]) and "
    "folded into lazily-initialized state (ParameterServer#onPushRecv "
    "[C-high]). 'load_pull': transformWithModelLoad "
    "(FlinkParameterServer#transformWithModelLoad [C-med]) — push one "
    "fold, DUMP the params DataFrame to parquet (B11), load into a fresh "
    "server, pull a key set mixing dumped keys with never-trained ones; "
    "the oracle replays dump content for hits and lazy init for misses.",
)
def ps_kernel_ops(spark, sf_dir):
    import tempfile

    from .kernel import BatchParameterServer

    li = t(spark, sf_dir, "lineitem")

    # --- pull over lazily-initialized K=4 item vectors
    keys = (
        li.where(F.col("l_orderkey") % 100 == 0)
        .select(F.col("l_partkey").alias("param_id"))
        .distinct()
    )
    pulled = BatchParameterServer(init_fn=lambda pid: mf.item_vec(pid)).pull(keys)
    pull_part = pulled.select(
        F.lit("pull").alias("op"),
        "param_id",
        F.posexplode("value").alias("dim", "raw"),
    ).select("op", "param_id", F.col("dim").cast("long").alias("dim"), F.round("raw", 6).alias("w"))

    # --- push: fold one round of summed deltas into a width-1 server
    # (element 0 of the item factor init). The fold sums one delta row
    # per key, which is exact, so each value is init + delta as the
    # oracle writes it
    init_fn = lambda pid: F.array(  # noqa: E731
        factor_element(pid, F.lit(0), mf.ITEM_SEED, mf.FACTOR_LO, mf.FACTOR_HI)
    )
    server = BatchParameterServer(init_fn=init_fn)
    server.push(
        li.groupBy(F.col("l_partkey").alias("param_id"))
        .agg(F.sum((F.col("l_quantity") * F.col("l_discount")).cast("decimal(18,6)")).alias("d"))
        .select("param_id", F.array(F.lit(0.001) * F.col("d").cast("double")).alias("delta"))
    )

    def w0(df, op):
        return df.select(
            F.lit(op).alias("op"),
            "param_id",
            F.lit(0).cast("long").alias("dim"),
            F.round(F.element_at("value", 1), 6).alias("w"),
        )

    push_part = w0(server.params, "push")

    # --- dump -> load -> pull (A6/B11): dump the pushed model's keys
    # % 3 == 0 (each key's value depends on its own deltas only, so
    # this is the model a push of just those keys' deltas would hold),
    # load it into a fresh server and pull dumped and never-trained keys
    tmp = tempfile.mkdtemp(prefix="fps_model_dump_")
    server.params.where(F.col("param_id") % 3 == 0).write.mode("overwrite").parquet(
        f"{tmp}/model"
    )
    loaded = BatchParameterServer.load(spark, f"{tmp}/model", init_fn=init_fn)
    load_keys = (
        t(spark, sf_dir, "part")
        .where(F.col("p_partkey") % 20 == 0)
        .select(F.col("p_partkey").alias("param_id"))
    )
    load_part = w0(loaded.pull(load_keys), "load_pull")

    return pull_part.unionByName(push_part).unionByName(load_part)


# ---------------------------------------------------------------------------
# B3 + B1/B6 — factor initializer and epoch-1/epoch-2 item factors as ONE
# query, discriminated by `epoch` (0 = init; registry consolidation, r3)
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# B4 — MF predict (dot product scoring)
# ---------------------------------------------------------------------------

@register(
    "mf_predict",
    oracle=f"""
WITH r AS ({RATINGS_SQL})
SELECT "user", item, round(rating, 6) + 0.0 AS rating,
       round({dot_sql(UVEC_SQL, IVEC_SQL)}, 6) + 0.0 AS pred
FROM r WHERE "user" % 50 = 0
""",
    tags=("B4",),
    doc="MF scoring: rating ~= <userVec, itemVec> (reference: MF worker "
    "predict + topK utils [C-high]); pure column math, no UDF.",
)
def mf_predict(spark, sf_dir):
    r = mf.ratings(spark, sf_dir).where(F.col("user") % 50 == 0)
    return mf.predict(r).select(
        "user", "item", F.round("rating", 6).alias("rating"), F.round("pred", 6).alias("pred")
    )


# ---------------------------------------------------------------------------
# B2 — SGD per-rating deltas
# ---------------------------------------------------------------------------

@register(
    "mf_sgd_deltas",
    oracle=f"""
WITH r AS ({RATINGS_SQL}),
we AS (
  SELECT "user", item, rating - {dot_sql(UVEC_SQL, IVEC_SQL)} AS e
  FROM r WHERE "user" % 50 = 0
)
SELECT "user", item, CAST(j AS BIGINT) AS dim, round(e, 6) + 0.0 AS e,
  round(CAST({mf.LR} AS DOUBLE) * e * {factor_element_sql('"user"', 'j', mf.USER_SEED, mf.FACTOR_LO, mf.FACTOR_HI)}, 6) + 0.0 AS item_delta,
  round(CAST({mf.LR} AS DOUBLE) * e * {factor_element_sql('item', 'j', mf.ITEM_SEED, mf.FACTOR_LO, mf.FACTOR_HI)}, 6) + 0.0 AS user_delta
FROM we CROSS JOIN (SELECT unnest(range(0, {mf.K})) AS j)
""",
    tags=("B2",),
    doc="SGD updater: delta_item = lr*e*u, delta_user = lr*e*i, "
    "e = rating - <u,i> (reference: matrix/factorization/utils/SGDUpdater "
    "[C-med]).",
)
def mf_sgd_deltas(spark, sf_dir):
    from ..functions.vectors import dot

    r = mf.ratings(spark, sf_dir).where(F.col("user") % 50 == 0)
    we = r.withColumn(
        "e", F.col("rating") - dot(mf.user_vec("user"), mf.item_vec("item"))
    )
    ex = we.select("user", "item", "e", F.explode(F.sequence(F.lit(0), F.lit(mf.K - 1))).alias("dim"))
    return ex.select(
        "user",
        "item",
        F.col("dim").cast("long").alias("dim"),
        F.round("e", 6).alias("e"),
        F.round(
            F.lit(mf.LR) * F.col("e")
            * factor_element(F.col("user"), F.col("dim"), mf.USER_SEED, mf.FACTOR_LO, mf.FACTOR_HI),
            6,
        ).alias("item_delta"),
        F.round(
            F.lit(mf.LR) * F.col("e")
            * factor_element(F.col("item"), F.col("dim"), mf.ITEM_SEED, mf.FACTOR_LO, mf.FACTOR_HI),
            6,
        ).alias("user_delta"),
    )


@register(
    "mf_epoch_factors",
    oracle=f"""
WITH r AS ({RATINGS_SQL}),
we1 AS (
  SELECT "user", item, rating - {dot_sql(UVEC_SQL, IVEC_SQL)} AS e FROM r
),
d1 AS (
  SELECT item, j AS dim,
         sum(CAST(CAST({mf.LR} AS DOUBLE) * e
                  * {factor_element_sql('"user"', 'j', mf.USER_SEED, mf.FACTOR_LO, mf.FACTOR_HI)}
             AS {STEP_DEC.upper()})) AS d
  FROM we1 CROSS JOIN (SELECT unnest(range(0, {mf.K})) AS j) GROUP BY item, j
),
i1 AS (
  SELECT item, dim,
         {factor_element_sql('item', 'dim', mf.ITEM_SEED, mf.FACTOR_LO, mf.FACTOR_HI)}
         + CAST(d AS DOUBLE) AS v
  FROM d1
),
i1arr AS (SELECT item, list(v ORDER BY dim) AS iv FROM i1 GROUP BY item),
we2 AS (
  SELECT r."user", r.item, r.rating - {dot_sql(UVEC_SQL, 'a.iv')} AS e
  FROM r JOIN i1arr a ON r.item = a.item
),
d2 AS (
  SELECT item, j AS dim,
         sum(CAST(CAST({mf.LR} AS DOUBLE) * e
                  * {factor_element_sql('"user"', 'j', mf.USER_SEED, mf.FACTOR_LO, mf.FACTOR_HI)}
             AS {STEP_DEC.upper()})) AS d
  FROM we2 CROSS JOIN (SELECT unnest(range(0, {mf.K})) AS j) GROUP BY item, j
)
SELECT 0 AS epoch, p_partkey AS id, CAST(j AS BIGINT) AS dim,
       round({factor_element_sql('p_partkey', 'j', mf.ITEM_SEED, mf.FACTOR_LO, mf.FACTOR_HI)}, 6) + 0.0 AS value
FROM part CROSS JOIN (SELECT unnest(range(0, {mf.K})) AS j)
WHERE p_partkey % 20 = 0
UNION ALL
SELECT 1 AS epoch, item AS id, CAST(dim AS BIGINT) AS dim,
       round(v, 6) + 0.0 AS value
FROM i1
UNION ALL
SELECT 2 AS epoch, i1.item AS id, CAST(i1.dim AS BIGINT) AS dim,
       round(i1.v + CAST(d2.d AS DOUBLE), 6) + 0.0 AS value
FROM i1 JOIN d2 ON i1.item = d2.item AND i1.dim = d2.dim
""",
    tags=("B3", "B1", "B6", "A1"),
    doc="MF factor trajectory in one query, discriminated by `epoch` "
    "(consolidated from mf_factor_init / mf_epoch_item_factors / "
    "mf_two_epoch_factors). epoch 0: the deterministic ranged initializer "
    "(reference: RangedRandomFactorInitializerDescriptor [C-med]) — "
    "hash-based so the oracle reproduces it. epoch 1: every rating's "
    "error against epoch-start factors, deltas summed per (item, dim) "
    "with exact decimal accumulation (PSOnlineMatrixFactorization.scala "
    "[C-high]; per-record SGD re-expressed as a mini-batch epoch — "
    "divergence documented in ps/mf.py). epoch 2: epoch-2 errors computed "
    "against the epoch-1-updated item factors, proving the ITERATION "
    "semantics (not just one step) match across engines. The kernel "
    "trainer (ps_train_epochs) computes the same shape with "
    "non-deterministic float fold order, hence its weaker rows-only check.",
)
def mf_epoch_factors(spark, sf_dir):
    from ..functions.vectors import dot

    r = mf.ratings(spark, sf_dir)
    dims = F.explode(F.sequence(F.lit(0), F.lit(mf.K - 1))).alias("dim")

    def epoch_deltas(with_e):
        ex = with_e.select("item", "e", "user", dims).withColumn(
            "u_j", factor_element(F.col("user"), F.col("dim"), mf.USER_SEED, mf.FACTOR_LO, mf.FACTOR_HI)
        )
        return ex.groupBy("item", "dim").agg(
            F.sum((F.lit(mf.LR) * F.col("e") * F.col("u_j")).cast(STEP_DEC)).alias("d")
        )

    init_part = (
        t(spark, sf_dir, "part")
        .where(F.col("p_partkey") % 20 == 0)
        .select(
            F.lit(0).alias("epoch"),
            F.col("p_partkey").alias("id"),
            F.posexplode(mf.item_vec("p_partkey")).alias("dim", "raw"),
        )
        .select("epoch", "id", F.col("dim").cast("long").alias("dim"), F.round("raw", 6).alias("value"))
    )

    we1 = r.withColumn("e", F.col("rating") - dot(mf.user_vec("user"), mf.item_vec("item")))
    i1 = epoch_deltas(we1).select(
        "item",
        "dim",
        (
            factor_element(F.col("item"), F.col("dim"), mf.ITEM_SEED, mf.FACTOR_LO, mf.FACTOR_HI)
            + F.col("d").cast("double")
        ).alias("v"),
    )
    epoch1 = i1.select(
        F.lit(1).alias("epoch"),
        F.col("item").alias("id"),
        F.col("dim").cast("long").alias("dim"),
        F.round("v", 6).alias("value"),
    )
    i1arr = i1.groupBy("item").agg(
        F.transform(F.array_sort(F.collect_list(F.struct("dim", "v"))), lambda s: s["v"]).alias("iv")
    )
    we2 = r.join(i1arr, "item").withColumn(
        "e", F.col("rating") - dot(mf.user_vec("user"), F.col("iv"))
    )
    epoch2 = (
        i1.join(epoch_deltas(we2), ["item", "dim"])
        .select(
            F.lit(2).alias("epoch"),
            F.col("item").alias("id"),
            F.col("dim").cast("long").alias("dim"),
            F.round(F.col("v") + F.col("d").cast("double"), 6).alias("value"),
        )
    )
    return init_part.unionByName(epoch1).unionByName(epoch2)


# ---------------------------------------------------------------------------
# B5 — top-K recommendation from factors
# ---------------------------------------------------------------------------

@register(
    "mf_recommend_topk",
    oracle=f"""
WITH u AS (SELECT c_custkey AS "user" FROM customer WHERE c_custkey % 50 = 0),
i AS (SELECT p_partkey AS item FROM part),
scored AS (
  SELECT "user", item, round({dot_sql(UVEC_SQL, IVEC_SQL)}, 6) + 0.0 AS score
  FROM u CROSS JOIN i
)
SELECT "user", item, score, rk FROM (
  SELECT "user", item, score,
         row_number() OVER (PARTITION BY "user" ORDER BY score DESC, item) AS rk
  FROM scored
) WHERE rk <= 5
""",
    tags=("B5",),
    doc="Continuous top-K per user from current factors (reference: "
    "PSOnlineMatrixFactorizationAndTopKGeneration.scala [C-med]); "
    "brute-force scorer here, LEMP-style norm pruning / LSH prefilter is "
    "the 100 TB path (see ps/mf.py docstring).",
)
def mf_recommend_topk(spark, sf_dir):
    return mf.recommend_topk(spark, sf_dir)


# ---------------------------------------------------------------------------
# B7 — seeded negative sampling with purchased-item exclusion
# ---------------------------------------------------------------------------

RING_R = 8  # reference's per-user recent-item memory capacity
NEG_DRAWS = 64  # index draws per user; O(U*K) work, NOT O(U*|items|)

# Candidate generation is K seeded index draws per user joined to the item
# table by key (r4 verdict task #2: the old form was a users x items cross
# join filtered by hash — O(U*I) work and a full-item-table broadcast that
# stops broadcasting at 100x). Draw j for user u picks item index
# hash(u, j) % max_item + 1; a draw that lands on a nonexistent key drops
# out of the inner join (deterministic in both engines, slight uniformity
# loss only if the key space has gaps). min(j) dedups repeated draws and
# fixes the rank order the way h did before.
_NEG_CAND_SQL = f"""
  SELECT "user", p.p_partkey AS item, min(j) AS j
  FROM (
    SELECT u."user" AS "user", d.j AS j,
           {int_hash2_sql('u."user"', 'd.j', seed=3)}
             % coalesce(greatest((SELECT max(p_partkey) FROM part), 1), 1) + 1 AS idx
    FROM (SELECT c_custkey AS "user" FROM customer WHERE c_custkey % 50 = 0) u
    CROSS JOIN (SELECT unnest(range(0, {NEG_DRAWS})) AS j) d
  ) dr JOIN part p ON p.p_partkey = dr.idx
  GROUP BY 1, 2
"""


@register(
    "mf_negative_samples",
    oracle=f"""
WITH last AS (
  SELECT o_custkey AS "user", l_partkey AS item, max(o_orderdate) AS last_dt
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY 1, 2
),
recent AS (
  SELECT "user", item FROM (
    SELECT "user", item,
           row_number() OVER (PARTITION BY "user" ORDER BY last_dt DESC, item) AS rn
    FROM last
  ) WHERE rn <= {RING_R}
),
cand_full AS (
  SELECT * FROM ({_NEG_CAND_SQL}) c
  WHERE NOT EXISTS (
    SELECT 1 FROM last WHERE last."user" = c."user" AND last.item = c.item)
),
cand_recent AS (
  SELECT * FROM ({_NEG_CAND_SQL}) c
  WHERE NOT EXISTS (
    SELECT 1 FROM recent r WHERE r."user" = c."user" AND r.item = c.item)
)
SELECT 'full' AS memory, "user", item AS neg_item, rk FROM (
  SELECT "user", item, row_number() OVER (PARTITION BY "user" ORDER BY j, item) AS rk
  FROM cand_full
) WHERE rk <= 3
UNION ALL
SELECT 'recent' AS memory, "user", item AS neg_item, rk FROM (
  SELECT "user", item, row_number() OVER (PARTITION BY "user" ORDER BY j, item) AS rk
  FROM cand_recent
) WHERE rk <= 3
""",
    tags=("B7",),
    doc="Negative sampling, BOTH exclusion-memory forms in one query "
    "discriminated by `memory` (consolidated from mf_negative_samples / "
    "mf_negative_samples_recent). 'full': seeded pseudo-random unseen "
    "items per user excluding the user's entire purchase history; "
    "'recent': the reference's BOUNDED user memory — exclusion is a "
    "per-user ring buffer of the RING_R most recently purchased items "
    "(MF worker negative sampling [C-med]), so an item bought long ago "
    "CAN be re-sampled. The hash replaces the RNG and recency is max "
    "order date with deterministic (date desc, item) eviction order, so "
    "the oracle replays both samples exactly. Candidates are NEG_DRAWS "
    "seeded index draws per user equi-joined to the item table — O(U*K) "
    "rows and no item-table broadcast, the form that survives 100x on "
    "the item side (draw j -> item index hash(u,j) % max_item + 1; "
    "repeated draws dedup to min j, which also orders the ranking).",
)
def mf_negative_samples(spark, sf_dir):
    users = (
        t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 50 == 0)
        .select(F.col("c_custkey").alias("user"))
    )
    items = t(spark, sf_dir, "part").select(F.col("p_partkey").alias("item"))
    # 1-row dimension statistic fetched eagerly (same class as the star-CC
    # convergence probe): at any scale max(key) over the item dim is one
    # cheap agg, and inlining it as a literal keeps the draw fan-out a pure
    # map (no scalar join for Catalyst to degrade into a nested loop).
    # Clamp to >= 1: an empty item dim (None) or a key domain collapsed to
    # {0} (a quality gate can do both at scale) would otherwise make the
    # draw mod a remainder-by-zero crash; with base 1 every draw lands on
    # idx 1 and drops out of the inner join -> zero candidates, not a crash.
    max_item = items.agg(F.max("item")).first()[0] or 1
    draws = (
        users.select(
            "user",
            F.explode(F.sequence(F.lit(0), F.lit(NEG_DRAWS - 1))).alias("j"),
        )
        .withColumn("idx", int_hash2(F.col("user"), F.col("j"), seed=3) % F.lit(max_item) + 1)
    )
    # both memory branches consume cand and last, but caching them was
    # MEASURED 2.5x slower in-bench (0.99s -> 2.5s median at sf0.1): the
    # cache write of the wide purchase-history agg costs more than the
    # pipelined recompute of two cheap branches — leave them lazy
    cand = (
        draws.join(items, draws["idx"] == items["item"])
        .groupBy("user", "item")
        .agg(F.min("j").alias("j"))
    )
    last = (
        t(spark, sf_dir, "orders")
        .join(t(spark, sf_dir, "lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.col("o_custkey").alias("user"), F.col("l_partkey").alias("item"))
        .agg(F.max("o_orderdate").alias("last_dt"))
    )
    wr = Window.partitionBy("user").orderBy(F.col("last_dt").desc(), F.col("item"))
    recent = (
        last.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= RING_R)
        .select("user", "item")
    )
    w = Window.partitionBy("user").orderBy("j", "item")

    def topk(excluded, label):
        return (
            cand.join(excluded, ["user", "item"], "left_anti")
            .select(
                F.lit(label).alias("memory"),
                "user",
                F.col("item").alias("neg_item"),
                F.row_number().over(w).alias("rk"),
            )
            .where(F.col("rk") <= 3)
        )

    return topk(last.select("user", "item"), "full").unionByName(topk(recent, "recent"))


# ---------------------------------------------------------------------------
# A1/B1/B6/B8/B9 — every multi-epoch kernel trainer as ONE rows-only query
# (iterative float-fold order is engine-dependent -> not SQL-expressible;
# per-step math is oracle-checked by mf_epoch_factors / pa_step_weights).
# MLlib ALS (the idiomatic batch-MF alternate, formerly mf_als_recommend)
# is exercised in tests/test_mllib_alternates.py.
# ---------------------------------------------------------------------------

@register(
    "ps_train_epochs",
    oracle=None,
    tags=("A1", "A6", "B1", "B6", "B8", "B9"),
    doc="All five multi-epoch kernel trainers in one rows-only query, "
    "discriminated by `family` (consolidated from mf_train_2epochs / "
    "mf_train_bidirectional / pa_train_2epochs / "
    "pa_multiclass_train_2epochs). 'mf': 2 driver-loop epochs on "
    "BatchParameterServer (FlinkParameterServer#transform + "
    "PSOfflineMatrixFactorization [C-high/med]). 'mf_bidir': BOTH factor "
    "sides update, in ONE parameter server keyed 2*id + side (user and "
    "item vectors sharded over the same pool, PSOnlineMatrixFactorization "
    "[C-high]). 'pa': 2 mini-batch epochs of PA-I binary updates "
    "(weights = width-1 param vectors keyed by feat_id). 'pa_mc': multiclass "
    "weight matrix as one PS keyed by class*n_features+feat, violator "
    "updates (PassiveAggressiveParameterServer#transformMulticlass "
    "[C-high]). 'mf_neg' (r5): the reference's negative-sampling purpose "
    "closed end-to-end — the B7 'full'-memory samples join the rating "
    "stream as rating-0 records (the negativeSampleRate emission, MF "
    "worker [C-med]) for one SGD epoch over positives + negatives.",
)
def ps_train_epochs(spark, sf_dir):
    # the ratings join and the PA triplet build each feed two trainers
    # (and each trainer's pushes re-read them) — build both once,
    # MATERIALIZED before the trainer fan-out so concurrent families
    # read the cache instead of racing to compute it
    rat = scratch(mf.ratings(spark, sf_dir))
    inst = scratch(pa.instances(spark, sf_dir))
    rat.count()
    inst.count()

    # guide §2.6 — overlap independent jobs: the five trainer families
    # are INDEPENDENT programs whose serial segments (every push is an
    # eager fold + merge + checkpoint) would otherwise run back-to-back.
    # Each family trains on its own driver thread, so later jobs' tasks
    # back-fill the stragglers of earlier ones; the final union is a
    # projection over five checkpointed models. Per-family plans, fold
    # orders and values do not depend on the threads. A thread starts
    # with no scratch scope, so its checkpoint blocks go to the tracker
    # and outlive it.
    # 4 cores, sf0.1 (tools/ab.py warm rep, 10 pairs): serial 18.5 s -> 16.3 s.
    def item_rows(model, family):
        # one row per (item, factor dimension) of an mf.train model
        return model.select("param_id", F.posexplode("value").alias("dim", "v")).select(
            F.lit(family).alias("family"),
            F.lit("item").alias("side"),
            F.col("param_id").alias("id"),
            F.col("dim").cast("long").alias("dim"),
            F.round("v", 6).alias("v"),
        )

    def fam_mf():
        return item_rows(mf.train(spark, rat, epochs=2), "mf")

    def fam_bidir():
        return mf.train_bidirectional(spark, rat, epochs=2).select(
            F.lit("mf_bidir").alias("family"),
            "side",
            "id",
            F.col("dim").cast("long").alias("dim"),
            F.round("v", 6).alias("v"),
        )

    def fam_pa():
        return pa.train_binary(spark, inst, epochs=2).select(
            F.lit("pa").alias("family"),
            F.lit("w").alias("side"),
            F.col("param_id").alias("id"),
            F.lit(0).cast("long").alias("dim"),
            F.round(F.element_at("value", 1), 6).alias("v"),
        )

    def fam_pamc():
        return pa.train_multiclass(spark, inst, epochs=2).select(
            F.lit("pa_mc").alias("family"),
            F.concat(F.lit("c"), F.col("class_id")).alias("side"),
            F.col("feat_id").alias("id"),
            F.lit(0).cast("long").alias("dim"),
            F.round("w", 6).alias("v"),
        )

    def fam_mfneg():
        # 'mf_neg': train on positives + the B7 negative samples as
        # rating-0 records — the reference feeds its sampled negatives
        # straight into the same SGD stream (module-level call =
        # unwrapped fn, so this does not release the enclosing query's
        # scratch)
        negs = (
            mf_negative_samples(spark, sf_dir)
            .where(F.col("memory") == "full")
            .select("user", F.col("neg_item").alias("item"), F.lit(0.0).alias("rating"))
        )
        return item_rows(mf.train(spark, rat.unionByName(negs), epochs=1), "mf_neg")

    mf_part, bidir, pa_part, pamc, mfneg = overlap(
        spark, fam_mf, fam_bidir, fam_pa, fam_pamc, fam_mfneg
    )
    return (
        mf_part.unionByName(bidir).unionByName(pa_part).unionByName(pamc).unionByName(mfneg)
    )


# ---------------------------------------------------------------------------
# B8 — PA binary step
# ---------------------------------------------------------------------------

PA_INST_SQL = (
    "SELECT vec_id AS row_id, CASE WHEN label < 5 THEN 1.0 ELSE -1.0 END AS y, "
    "embedding AS x FROM embeddings "
    "WHERE embedding IS NOT NULL AND label IS NOT NULL"
)


def _pa_binary_step_sql(variant: str) -> str:
    return f"""
WITH inst AS ({PA_INST_SQL}),
m AS (
  SELECT row_id, y, x, {dot_sql('x', W0_ARR_SQL)} AS margin, {norm2_sql('x')} AS xn
  FROM inst
),
tri AS (
  SELECT {pa.tau_sql(variant)} * y AS coef,
         unnest(x) AS x_f, generate_subscripts(x, 1) - 1 AS feat_id
  FROM m
),
d AS (
  SELECT CAST(feat_id AS BIGINT) AS feat_id,
         sum(CAST(coef * CAST(x_f AS DOUBLE) AS {STEP_DEC.upper()})) AS d
  FROM tri GROUP BY 1
)
SELECT '{variant}' AS variant, CAST(-1 AS BIGINT) AS class_id, feat_id,
       round({W0_SQL('feat_id')} + CAST(d AS DOUBLE), 6) + 0.0 AS w
FROM d
"""


_PA_BINARY_STEPS_SQL = " UNION ALL ".join(
    f"SELECT * FROM ({_pa_binary_step_sql(v)}) AS step_{v}" for v in ("pa", "pa1", "pa2")
)


def _doc_quality_sql() -> str:
    """DuckDB twin of pa.doc_quality_filter — featurize documents into
    the N_FEATURES hashed-tf space, one PA-I batch step from w0 on the
    weak structural labels, score every doc under the learned w1."""
    from ..operators._dedup_core import _TOKHASH_SQL
    from ..operators.curate import CURATE_MIN_CHARS, CURATE_MIN_TOKENS

    nf = pa.N_FEATURES
    return f"""
WITH dq_th AS MATERIALIZED (
  SELECT doc_id, n_chars, {_TOKHASH_SQL} AS th FROM documents
),
dq_inst AS MATERIALIZED (
  SELECT doc_id AS row_id,
         CASE WHEN n_chars >= {CURATE_MIN_CHARS} AND len(th) >= {CURATE_MIN_TOKENS}
              THEN 1.0 ELSE -1.0 END AS y,
         list_transform(range(0, {nf}),
           f -> CAST(len(list_filter(th, h -> h % {nf} = f)) AS DOUBLE) / len(th)) AS x
  FROM dq_th WHERE len(th) >= 1
),
dq_m AS (
  SELECT row_id, y, x, {dot_sql('x', W0_ARR_SQL)} AS margin, {norm2_sql('x')} AS xn
  FROM dq_inst
),
dq_tri AS (
  SELECT {pa.tau_sql('pa1')} * y AS coef,
         unnest(x) AS x_f, generate_subscripts(x, 1) - 1 AS feat_id
  FROM dq_m
),
dq_w AS (
  SELECT CAST(feat_id AS BIGINT) AS feat_id,
         {W0_SQL('feat_id')}
           + CAST(sum(CAST(coef * x_f AS {STEP_DEC.upper()})) AS DOUBLE) AS w
  FROM dq_tri GROUP BY 1
),
dq_tri2 AS (
  SELECT row_id, y, unnest(x) AS x_f, generate_subscripts(x, 1) - 1 AS feat_id
  FROM dq_inst
),
dq_sc AS (
  SELECT t.row_id, t.y, sum(CAST(t.x_f * w.w AS {STEP_DEC.upper()})) AS ms
  FROM dq_tri2 t JOIN dq_w w ON t.feat_id = w.feat_id
  GROUP BY 1, 2
)
SELECT row_id, CAST(y AS BIGINT) AS y,
       CAST(sign(CAST(ms AS DOUBLE)) AS BIGINT) AS y_pred,
       round(CAST(ms AS DOUBLE), 6) + 0.0 AS margin
FROM dq_sc
"""


@register(
    "pa_predict_binary",
    oracle=f"""
SELECT 'embeddings' AS task, * FROM (
  WITH inst AS ({PA_INST_SQL})
  SELECT row_id, CAST(y AS BIGINT) AS y,
         CAST(sign({dot_sql('x', W0_ARR_SQL)}) AS BIGINT) AS y_pred,
         round({dot_sql('x', W0_ARR_SQL)}, 6) + 0.0 AS margin
  FROM inst
) emb_task
UNION ALL
SELECT 'doc_quality' AS task, * FROM ({_doc_quality_sql()}) AS dq_task
""",
    tags=("B10", "D26"),
    doc="PA predict surface, discriminated by `task`. 'embeddings': "
    "sign of margin under the (deterministic) init weights (reference: "
    "algorithm predict [C-high]). 'doc_quality' (r8): MODEL-BASED "
    "document quality filtering — the CCNet/fastText shape — documents "
    "featurized into the same N_FEATURES space via the hashing trick "
    "(token char-fold hash mod 64, tf-normalized), weak labels from "
    "the curation structural gate, ONE aggregated PA-I batch step "
    "learns w1, and every doc is scored under the LEARNED weights "
    "(margin + sign). The whole train-then-score pipeline is "
    "hash-checked against the DuckDB twin; ps/pa.py "
    "doc_quality_filter documents the 100 TB shape (map-only "
    "featurize, 64-key step shuffle, broadcast-w1 scoring).",
)
def pa_predict_binary(spark, sf_dir):
    # guide §2.6: the two tasks are independent; their plan
    # construction (the doc-quality featurize->train->score chain is
    # ~1.5 s of Catalyst analysis) overlaps on driver threads.
    # 4 cores, sf0.1 (tools/ab.py warm rep, 5 pairs): serial 3.34 s -> 2.81 s.
    def _base():
        return pa.predict_binary(pa.instances(spark, sf_dir)).select(
            F.lit("embeddings").alias("task"), "row_id", "y", "y_pred", "margin"
        )

    def _dq():
        return pa.doc_quality_filter(spark, sf_dir).select(
            F.lit("doc_quality").alias("task"), "row_id", "y", "y_pred", "margin"
        )

    base, dq = overlap(spark, _base, _dq)
    return base.unionByName(dq)


@register(
    "pa_step_weights",
    oracle=f"""
{_PA_BINARY_STEPS_SQL}
UNION ALL
SELECT * FROM (
SELECT 'mc' AS variant, * FROM (
WITH inst AS (SELECT vec_id AS row_id, CAST(label AS BIGINT) AS label, embedding AS x
              FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
scores AS (
  SELECT row_id, label, x, c,
         {dot_sql('x', f"list_transform(range(0, {pa.N_FEATURES}), f -> {CW0_SQL('c', 'f')})")} AS score
  FROM inst CROSS JOIN (SELECT unnest(range(0, {pa.N_CLASSES})) AS c)
),
viol AS (
  SELECT row_id, c AS v, score AS s_v FROM (
    SELECT row_id, c, score, row_number() OVER (PARTITION BY row_id ORDER BY score DESC, c) AS rn
    FROM scores WHERE c <> label
  ) WHERE rn = 1
),
tru AS (SELECT row_id, label, x, score AS s_y FROM scores WHERE c = label),
upd AS (
  SELECT t.row_id, t.label, viol.v, t.x,
         greatest(0.0, 1.0 - (t.s_y - viol.s_v)) / (2.0 * {norm2_sql('t.x')}) AS tau
  FROM tru t JOIN viol ON t.row_id = viol.row_id
),
signed AS (
  SELECT label AS class_id, tau AS coef, x FROM upd
  UNION ALL
  SELECT v AS class_id, -tau AS coef, x FROM upd
),
tri AS (
  SELECT class_id, coef, unnest(x) AS x_f, generate_subscripts(x, 1) - 1 AS feat_id
  FROM signed
),
deltas AS (
  SELECT CAST(class_id AS BIGINT) AS class_id, CAST(feat_id AS BIGINT) AS feat_id,
         sum(CAST(coef * CAST(x_f AS DOUBLE) AS {STEP_DEC.upper()})) AS d
  FROM tri GROUP BY 1, 2
),
base AS (
  SELECT CAST(c AS BIGINT) AS class_id, CAST(f AS BIGINT) AS feat_id
  FROM (SELECT unnest(range(0, {pa.N_CLASSES})) AS c)
  CROSS JOIN (SELECT unnest(range(0, {pa.N_FEATURES})) AS f)
)
SELECT base.class_id, base.feat_id,
       round({CW0_SQL('base.class_id', 'base.feat_id')} + coalesce(CAST(d AS DOUBLE), 0.0), 6) + 0.0 AS w
FROM base LEFT JOIN deltas USING (class_id, feat_id)
) AS mc_core
) AS multiclass_step
""",
    tags=("B8", "B9"),
    doc="One mini-batch PA step — all THREE binary variants (r5: "
    "`variant` in pa/pa1/pa2, the Crammer et al. trio the reference's "
    "algorithm classes implement [C-high]: hinge/||x||^2 unbounded, "
    "min(C, .) additive cap, hinge/(||x||^2+1/2C) soft) AND multiclass "
    "(`variant`='mc') in one query; class_id = -1 marks the binary "
    "models' single weight vector. Binary: w += sum tau*y*x "
    "(per-record sequential updates re-expressed as one vectorized "
    "batch step). Multiclass: argmax violator, tau = hinge/(2||x||^2), "
    "+tau*x to the true row, -tau*x to the violator row "
    "(PassiveAggressiveParameterServer#transformMulticlass [C-high]).",
)
def pa_step_weights(spark, sf_dir):
    inst = scratch(pa.instances(spark, sf_dir))  # feeds both parts

    # serial: overlapping the two branch constructions on driver
    # threads ran 4 % faster at 4 cores (tools/ab.py warm rep, sf0.1,
    # 10 pairs), under the 10 % an overlap must earn
    def _binaries():
        return pa.binary_steps_all_variants(inst).select(
            "variant",
            F.lit(-1).cast("long").alias("class_id"),
            "feat_id",
            F.round("w", 6).alias("w"),
        )

    def _multi():
        return pa.multiclass_step(inst).select(
            F.lit("mc").alias("variant"),
            F.col("class_id").cast("long").alias("class_id"),
            F.col("feat_id").cast("long").alias("feat_id"),
            F.round("w", 6).alias("w"),
        )

    return _binaries().unionByName(_multi())


# ---------------------------------------------------------------------------
# A9 — skew-safe aggregation (custom-partitioner analog), driver-verified
# ---------------------------------------------------------------------------

@register(
    "skew_salted_agg",
    oracle="""
SELECT l_returnflag,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 4) AS revenue,
       count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
""",
    tags=("A9",),
    doc="Skew-safe two-stage aggregation (the A9 custom-partitioner "
    "analog, now driver-verified rather than tests-only): revenue per "
    "l_returnflag — 3 keys over 600k+ rows, the archetypal hot-key "
    "shape the reference's paramId % psParallelism sharding suffers "
    "from (FlinkParameterServer.scala partitioners [C-high]). Stage 1 "
    "groups on (key, salt) spreading each hot key over 16 reducers, "
    "stage 2 merges the partials — semantics-preserving because the "
    "fold is a commutative+associative decimal sum (exact, so the "
    "salted result hash-matches the oracle's single-stage sum "
    "bit-for-bit; a double sum would expose fold order). The salt never "
    "reaches the result.",
)
def skew_salted_agg(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    salt = F.monotonically_increasing_id() % 16
    stage1 = (
        li.select("l_returnflag", rev.alias("rev"), salt.alias("salt"))
        .groupBy("l_returnflag", "salt")
        .agg(F.sum("rev").alias("partial"), F.count(F.lit(1)).alias("n"))
    )
    return stage1.groupBy("l_returnflag").agg(
        F.round(F.sum("partial").cast("double"), 4).alias("revenue"),
        F.sum("n").alias("n_rows"),
    )
