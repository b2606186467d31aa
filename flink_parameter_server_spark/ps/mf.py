"""Matrix factorization on the PS kernel (SURVEY.md §2 B1–B7).

Reference: `matrix/factorization/PSOnlineMatrixFactorization.scala#psOnlineMF`
[C-high] — per-rating sequential SGD with worker-local user vectors,
pull/push of item vectors, negative sampling, and continuous top-K.

Spark-first re-expression (semantic divergence documented): the
per-record sequential SGD becomes *mini-batch gradient* epochs — each
epoch computes every rating's error against the epoch-start factors and
folds the summed deltas once. Numerically different trajectory,
comparable convergence; the per-step math (B2) is identical and
oracle-checked. Ratings are derived deterministically from the fixtures
(FIXTURES.md): user=o_custkey, item=l_partkey, rating=l_quantity.

Scale: each epoch's deltas fold in ONE aggregation of k flat
``sum(delta[j])`` columns per id with map-side combine — each map task
ships at most one k-wide partial row per item (kernel
``_fold_deltas``); factor init is a pure function of id so there is no
factor table to scan or broadcast until training actually updates it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import vectors
from ..operators._util import t
from ..scratch import scratch
from .factors import factor_vector
from .kernel import BatchParameterServer

K = 8
USER_SEED = 11
ITEM_SEED = 23
LR = 0.01
FACTOR_LO, FACTOR_HI = -0.1, 0.1


def ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rating(user, item, rating) — deterministic fixture derivation."""
    return (
        t(spark, sf_dir, "orders")
        .join(t(spark, sf_dir, "lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_custkey").alias("user"),
            F.col("l_partkey").alias("item"),
            F.col("l_quantity").cast("double").alias("rating"),
        )
    )


def user_vec(col):
    return factor_vector(col, K, USER_SEED, FACTOR_LO, FACTOR_HI)


def item_vec(col):
    return factor_vector(col, K, ITEM_SEED, FACTOR_LO, FACTOR_HI)


def predict(r: DataFrame) -> DataFrame:
    """B4: rating ~= dot(userVec, itemVec) from the deterministic init."""
    return r.withColumn("pred", vectors.dot(user_vec("user"), item_vec("item")))


def train(spark: SparkSession, r: DataFrame, epochs: int = 2) -> DataFrame:
    """B1/B6 multi-epoch trainer on the PS kernel: item factors live in the
    server (pull = join, push = summed fold), user factors stay fixed-init
    worker-side (the reference keeps user vectors worker-local [C-high];
    updating them too is a second symmetric PS — omitted for clarity).
    Returns DataFrame(param_id=item, value=array<double> factors).
    """
    ps = BatchParameterServer(init_fn=lambda pid: item_vec(pid))
    # worker-local user vectors as a distinct-user factor table joined
    # back by key: O(|users|) hash evals total, and `uv` reaches the
    # delta math as a join attribute — projection collapse cannot
    # re-inline the 8-hash init array into each transform element (the
    # trap measured in BASELINE.md's perf notes; 25x on this trainer).
    # scratch-persisted (r15): every epoch's step re-referenced the
    # distinct+hash build, one exchange per epoch beyond the first
    ufac = scratch(
        r.select("user").distinct().select("user", user_vec("user").alias("uv"))
    )

    def step(data: DataFrame, server: BatchParameterServer) -> DataFrame:
        pulled = server.pull(data.select(F.col("item").alias("param_id"), "user", "rating"))
        withe = pulled.join(ufac, "user").withColumn(
            "e", F.col("rating") - vectors.dot_fixed(F.col("uv"), F.col("value"), K)
        )
        # a flat array(...), not transform(uv, u -> lr*e*u): Catalyst
        # inlines the single-use `e` (an 8-term dot product) into a
        # lambda, which re-evaluates it interpreted per element; k
        # references keep it computed once (see _fold_deltas)
        return withe.select(
            "param_id",
            F.array(*[F.lit(LR) * F.col("e") * F.col("uv")[j] for j in range(K)]).alias("delta"),
        )

    return ps.iterate(r, step, epochs)


def train_bidirectional(spark: SparkSession, r: DataFrame, epochs: int = 2) -> DataFrame:
    """B1 full fidelity: BOTH factor sides update (the reference holds
    user vectors worker-local and item vectors server-side, both mutated
    per record [C-high]); epochs are synchronous — both deltas computed
    against epoch-start values, then folded.

    Both sides live in ONE parameter server keyed by ``2*id + side``
    (side 0 = user, 1 = item): per-key fold math is identical to two
    separate servers, but each epoch runs ONE delta fold + ONE merge
    join instead of two of each — half the shuffles, half the cached
    plans, and the same sharding a real deployment would use (the
    reference likewise shards all parameters across the same PS pool by
    ``paramId % psParallelism`` [C-high]).

    Returns a union: (side, id, dim, value) for side in {user, item}.
    """
    init_fn = lambda pid: F.when(  # noqa: E731 — shared with the preseed below
        pid % 2 == F.lit(0), user_vec(F.floor(pid / 2))
    ).otherwise(item_vec(F.floor(pid / 2)))
    # r16 (guide §2.4 / the mf-train ufac precedent, VERDICT r15 #5):
    # preseed the server with ONE persisted init table over exactly the
    # ids the ratings touch — epoch 1's TWO pulls previously each built
    # their own distinct+init table over the full ratings frame (two
    # extra exchanges); every id receives a delta every epoch (each
    # rating row updates its item and its user), so the preseed id set
    # equals the trained id set and the final model rows are identical
    # (r16 A/B at sf0.1: n=279992 rows, equal model hashes with and
    # without the preseed).
    ids = (
        r.select((F.col("item") * 2 + 1).alias("param_id"))
        .unionByName(r.select((F.col("user") * 2).alias("param_id")))
        .distinct()
    )
    ps = BatchParameterServer(
        init_fn=init_fn,
        params=scratch(ids.withColumn("value", init_fn(F.col("param_id")))),
    )
    # pre-key the item-side pull input by param_id ONCE (cached): every
    # epoch's item pull join then reuses this exchange instead of
    # re-shuffling the full ratings frame per epoch (guide §2.4 "two
    # operations keyed the same way share one exchange"). Width =
    # defaultParallelism (the scale-adaptive rule). Measured with the
    # preseed (interleaved A/B, sf0.1): 7.0-7.2 -> 3.3-5.4 s warm,
    # model hash identical.
    ritems = scratch(
        r.select(
            (F.col("item") * 2 + 1).alias("param_id"), "user", "item", "rating"
        ).repartition(spark.sparkContext.defaultParallelism, F.col("param_id"))
    )

    def step(data: DataFrame, server: BatchParameterServer) -> DataFrame:
        pulled_items = server.pull(data).withColumnRenamed("value", "ivec").drop("param_id")
        both = (
            server.pull(
                pulled_items.select(
                    (F.col("user") * 2).alias("param_id"), "user", "item", "rating", "ivec"
                )
            )
            .withColumnRenamed("value", "uvec")
            .drop("param_id")
        )
        # scratch: both delta branches read `both` once from cache when
        # the push checkpoints the merge; released at the next
        # registry-query entry
        both = scratch(
            both.withColumn(
                "e", F.col("rating") - vectors.dot_fixed(F.col("uvec"), F.col("ivec"), K)
            )
        )

        # flat array(...) deltas, as in train's step (see _fold_deltas)
        def delta(param_id: Column, vec: str) -> DataFrame:
            return both.select(
                param_id.alias("param_id"),
                F.array(*[F.lit(LR) * F.col("e") * F.col(vec)[j] for j in range(K)]).alias("delta"),
            )

        return delta(F.col("item") * 2 + 1, "uvec").unionByName(delta(F.col("user") * 2, "ivec"))

    return ps.iterate(ritems, step, epochs).select(
        F.when(F.col("param_id") % 2 == 0, F.lit("user")).otherwise(F.lit("item")).alias("side"),
        F.floor(F.col("param_id") / 2).cast("long").alias("id"),
        F.posexplode("value").alias("dim", "v"),
    ).select("side", "id", "dim", F.round("v", 6).alias("v"))


SEED_M = 256  # LEMP seed-prefix size (items scored to establish theta)
NORM_BANDS = 16  # inorm buckets for the de-broadcast theta equi-join
THETA_SALT = 4  # salts widening the band key space (16 keys -> 64)


def _fanout(left: DataFrame, lkey: str, bounded: DataFrame, rkey: str) -> DataFrame:
    """Cross join against a BOUNDED broadcast side (the SEED_M prefix)
    expressed as a dummy-key BroadcastHashJoin rather than ``crossJoin``
    — semantically identical, but it keeps the physical plan free of
    BroadcastNestedLoopJoin so the plan tests can assert 'no BNLJ'
    outright instead of whitelisting bounded ones. The key is
    ``pmod(col, 1)`` (constant 0) rather than ``lit(1)`` because a
    literal key constant-folds to a conditionless join and Catalyst
    plans that as the BNLJ we're avoiding."""
    return (
        left.withColumn("_zero", F.pmod(F.col(lkey), F.lit(1)))
        .join(
            F.broadcast(bounded.withColumn("_zero", F.pmod(F.col(rkey), F.lit(1)))),
            "_zero",
        )
        .drop("_zero")
    )


def topk_candidates(
    spark: SparkSession,
    sf_dir: str,
    k_rec: int = 5,
    user_stride: int = 50,
    user_factors: DataFrame | None = None,
    item_factors: DataFrame | None = None,
    keep_bound_pairs: bool = False,
) -> DataFrame:
    """B5: pruned pre-window candidate set for factor-scored top-K per
    (sampled) user over all items — LEMP-style lossless pruning
    (reference:
    `PSOnlineMatrixFactorizationAndTopKGeneration` + norm-ordered
    candidate pruning utils [C-med]).

    Two phases, both lossless for the checked k (the brute-force oracle
    hashes identical):

    1. *Seed*: score each user against the ``SEED_M`` highest-norm items
       (LEMP's norm-descending candidate order) — a bounded
       users x SEED_M cross join — and take theta_u = the user's k-th
       best rounded score. Adding candidates can only raise the k-th
       best, so theta_u lower-bounds the final cutoff.
    2. *Scan*: join users against ALL items under the Cauchy-Schwarz
       bound ``unorm * inorm >= theta_u - 1e-6`` (any true top-k item
       satisfies it: score <= unorm*inorm and rounded score >= theta_u;
       the 1e-6 absorbs the 6-decimal rounding slop), compute the exact
       dot for survivors, and drop rows with rounded score < theta_u
       BEFORE the window — the top-k shuffle then carries ~P(beat the
       k-th of SEED_M) ~ k/SEED_M of the pairs (measured ~50x less at
       sf0.1) instead of users x items rows.

    The norm bound itself prunes little on this fixture (uniform factor
    init => norms concentrate); the theta prefilter is what deletes the
    shuffle, and both are exact. At 100 TB the same plan holds: seed
    prefix broadcast, scan side partitioned by item, theta filter
    map-side; skewed-norm catalogs make the norm bound itself bite.

    Measured cost contract (BASELINE.md third-decade rehearsal): when
    the band cannot prune, the SCORING work is ~U x I dot products —
    quadratic when both sides scale (wall exp 1.51 across sf0.1 -> ~sf1
    on fixed cores). That work is exact-MIPS-inherent, not a plan
    defect: the equi-join shape stays broadcast-free and skew-free, so
    executors absorb it linearly. For catalog-scale retrieval use real
    trained factors (norm skew is what LEMP exploits) or the sub-linear
    ANN alternates in operators/similarity.py (IVF/LSH, exp 0.59).

    De-broadcast rehearsal (VERDICT r5 #2): NOTHING here broadcasts the
    user side any more. The seed join broadcasts only the SEED_M-row
    prefix (users stay distributed), and the theta scan is a norm-band
    EQUI-join: items land in ``NORM_BANDS`` quantile buckets over
    ``inorm`` (x ``THETA_SALT`` salts so the 16-key join space doesn't
    collapse to 16 reducers), each user explodes to exactly the bands
    that can satisfy ``unorm * inorm >= theta`` (bands are a superset
    because band-of = count-of-boundaries-below is monotone; the exact
    Cauchy-Schwarz bound re-filters post-join, so the banding is
    lossless). Both sides of every join are now
    shuffle-partitioned — no BroadcastNestedLoopJoin, no unbounded
    broadcast — pinned by tests/test_plans.py
    (test_recommend_topk_debroadcast).

    ``user_factors``/``item_factors`` (schema ``(id, vec)``) swap the
    deterministic hash-init factors for externally trained ones — the
    catalog shape LEMP is built for (BASELINE.md "Trained-factors LEMP
    receipt" measures the bound's pruning power on trained vs hash-init
    factors; the registry entry always uses the default hash-init build).
    ``keep_bound_pairs=True`` returns the scored frame BEFORE the final
    ``score >= theta`` filter, i.e. exactly the pairs whose dot product
    had to be computed — the rehearsal's cost metric.
    """
    # materialize factor vectors + norms ONCE per row: 16 hash evals per
    # (user|item) row instead of per scored pair — the pair loop is then a
    # pure 8-dim dot product
    # repartition: customer is one parquet split, and since the r6
    # de-broadcast users are the STREAM side of both scoring joins — left
    # in one partition every dot product would run in a single task
    if user_factors is None:
        users = (
            t(spark, sf_dir, "customer")
            .where(F.col("c_custkey") % user_stride == 0)
            .repartition(spark.sparkContext.defaultParallelism)
            .select(F.col("c_custkey").alias("user"), user_vec("c_custkey").alias("uv"))
        )
    else:
        users = user_factors.select(
            F.col("id").alias("user"), F.col("vec").alias("uv")
        ).repartition(spark.sparkContext.defaultParallelism)
    users = users.withColumn("unorm", F.sqrt(vectors.dot_fixed(F.col("uv"), F.col("uv"), K)))
    # repartition: the part table is one parquet split; without this the
    # whole pair loop runs in a single task
    if item_factors is None:
        items = (
            t(spark, sf_dir, "part")
            .repartition(spark.sparkContext.defaultParallelism)
            .select(F.col("p_partkey").alias("item"), item_vec("p_partkey").alias("iv"))
        )
    else:
        items = item_factors.select(
            F.col("id").alias("item"), F.col("vec").alias("iv")
        ).repartition(spark.sparkContext.defaultParallelism)
    items = items.withColumn("inorm", F.sqrt(vectors.dot_fixed(F.col("iv"), F.col("iv"), K)))
    prefix = items.orderBy(F.col("inorm").desc(), F.col("item")).limit(SEED_M)
    # users stay DISTRIBUTED; only the bounded SEED_M-row prefix is
    # broadcast (the r5-era F.broadcast(users) was unnecessary here and
    # the one shape that couldn't survive 100x)
    seed_scored = _fanout(users, "user", prefix, "item").select(
        "user", F.round(vectors.dot_fixed(F.col("uv"), F.col("iv"), K), 6).alias("score")
    )
    ws = Window.partitionBy("user").orderBy(F.col("score").desc())
    theta = (
        seed_scored.withColumn("rn", F.row_number().over(ws))
        .where(F.col("rn") <= k_rec)
        .groupBy("user")
        .agg(F.min("score").alias("theta"))
    )
    pruned_users = users.join(theta, "user")

    # --- norm-band equi-join (the de-broadcast form of the theta scan) ---
    # Band boundaries are QUANTILES of inorm, not equal-width steps:
    # equal-population buckets stay balanced under ANY norm distribution
    # (equal-width bands collapse to one hot bucket exactly when norms
    # skew — the catalogs where the norm bound bites most). approxQuantile
    # is a distributed single-pass sketch; the <= NORM_BANDS-1 boundary
    # values come back to the driver as literals (the 1-row dimension-
    # statistic pattern VERDICT blessed at ps/queries.py max_item), so
    # the band expressions stay join-free. Band of x = #boundaries < x —
    # monotone in x, which is what the min_band superset argument needs.
    bounds = items.approxQuantile(
        "inorm", [i / NORM_BANDS for i in range(1, NORM_BANDS)], 0.001
    )
    barr = F.array(*[F.lit(float(b)) for b in bounds])

    def band_of(col):
        return F.size(F.filter(barr, lambda b: b < col)).cast("int")

    items_b = items.withColumn("band", band_of(F.col("inorm"))).withColumn(
        "salt", F.pmod(F.col("item"), F.lit(THETA_SALT)).cast("int")
    )
    # lowest item band that can satisfy unorm*inorm >= theta - 1e-6:
    # inorm >= (theta-1e-6)/unorm, and band_of is monotone so every
    # qualifying item sits in band >= min_band. theta-1e-6 <= 0 means the
    # bound holds vacuously (norms are non-negative) -> all bands. The
    # min_band < NORM_BANDS guard is defensive: band_of tops out at
    # NORM_BANDS-1, and theta is an achieved seed score so it never
    # exceeds unorm * max(inorm) anyway.
    min_inorm = (F.col("theta") - F.lit(1e-6)) / F.greatest(F.col("unorm"), F.lit(1e-12))
    users_b = (
        pruned_users.withColumn(
            "min_band",
            F.when(F.col("theta") - F.lit(1e-6) <= 0, F.lit(0))
            .otherwise(band_of(min_inorm))
            .cast("int"),
        )
        .where(F.col("min_band") < NORM_BANDS)
        .withColumn("band", F.explode(F.sequence(F.col("min_band"), F.lit(NORM_BANDS - 1))))
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(THETA_SALT - 1))))
        .drop("min_band")
        # REPARTITION_BY_NUM is exempt from AQE coalescing: the theta agg
        # upstream is ~|users| tiny rows, AQE folds its exchange to one
        # partition, and without this the whole pair-scoring probe (the
        # expensive part) runs in a single task
        .repartition(spark.sparkContext.defaultParallelism)
    )
    scored = (
        users_b.join(items_b, ["band", "salt"])
        # exact Cauchy-Schwarz bound, now a post-join filter (the band was
        # only ever a superset)
        .where(F.col("unorm") * F.col("inorm") >= F.col("theta") - F.lit(1e-6))
        .select(
            "user",
            "item",
            F.round(vectors.dot_fixed(F.col("uv"), F.col("iv"), K), 6).alias("score"),
            "theta",
        )
    )
    if keep_bound_pairs:
        return scored
    return scored.where(F.col("score") >= F.col("theta"))


def recommend_topk(spark: SparkSession, sf_dir: str, k_rec: int = 5, user_stride: int = 50) -> DataFrame:
    """B5 top-K: window over the pruned candidate set (see
    :func:`topk_candidates` for the LEMP pruning proof)."""
    scored = topk_candidates(spark, sf_dir, k_rec, user_stride)
    w = Window.partitionBy("user").orderBy(F.col("score").desc(), F.col("item"))
    return scored.select("user", "item", "score", F.row_number().over(w).alias("rk")).where(
        F.col("rk") <= k_rec
    )
