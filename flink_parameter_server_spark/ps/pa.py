"""Passive-Aggressive classification (SURVEY.md §2 B8–B10).

Reference: `passive/aggressive/PassiveAggressiveParameterServer.scala
#transformBinary/#transformMulticlass` + `algorithm/PassiveAggressive*`
[C-high]: per instance, pull weights for active features, compute margin,
update with tau = loss/||x||^2 (PA; PA-I caps at C; PA-II adds 1/2C), push
tau*y*x.

Spark-first re-expression: instances come from the `embeddings` fixture
(row_id=vec_id, y = +1 if label<5 else -1, x = 64-dim dense vector —
FIXTURES.md). One *mini-batch* PA step over the whole batch is pure
column math and oracle-checked; sequential per-record training becomes a
driver epoch loop on the PS kernel (rows-only check; divergence from the
reference's per-record trajectory documented here).

Scale: margins are one map-side pass (no shuffle — weights are a
deterministic function of feat_id until training starts, then a width-1
params table joined by feat_id); weight updates shuffle (feat_id) with
map-side combine — 64 keys here, millions of sparse feature ids at
100 TB, both fine because the shuffle payload is (feat_id, delta).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import vectors
from ..operators._util import t
from .factors import factor_element
from .kernel import BatchParameterServer

N_FEATURES = 64
N_CLASSES = 10
W_SEED = 5
W_LO, W_HI = -0.05, 0.05
C = 1.0  # PA-I aggressiveness cap


def instances(spark: SparkSession, sf_dir: str) -> DataFrame:
    # extraction-failed rows (null embedding/label) carry no trainable
    # signal and crash np.stack in the sequential stateful trainer — drop
    # them at the scan (predicate pushes down; PA_INST_SQL mirrors it)
    emb = t(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
    )
    return emb.select(
        F.col("vec_id").alias("row_id"),
        F.when(F.col("label") < 5, F.lit(1.0)).otherwise(F.lit(-1.0)).alias("y"),
        F.col("label").cast("long").alias("label"),
        vectors.as_double(F.col("embedding")).alias("x"),
    )


def class_w0_array(c):
    """Initial weight row for class c (multiclass weight matrix); row 0
    is also the binary model's initial weights."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(N_FEATURES - 1)),
        lambda f: factor_element(c, f, W_SEED, W_LO, W_HI),
    )


def with_margin(inst: DataFrame) -> DataFrame:
    # dot_fixed (flat, bitwise-identical to the fold): w0 is a constant
    # array, so element_at(w0, j) constant-folds and the margin becomes
    # 64 fused multiply-adds in whole-stage codegen instead of an
    # interpreted higher-order fold per row
    return inst.withColumn(
        "margin", vectors.dot_fixed(F.col("x"), class_w0_array(F.lit(0)), N_FEATURES)
    )


def _tau(variant: str, xn=None):
    """The three classic PA update magnitudes (Crammer et al. 2006;
    reference `passive/aggressive/algorithm/*Algorithm` implements the
    same trio [C-high]): 'pa' = hinge/||x||^2 (unbounded), 'pa1' =
    min(C, hinge/||x||^2) (additive cap), 'pa2' = hinge/(||x||^2 +
    1/(2C)) (soft regularization). Pass ``xn`` to reuse a precomputed
    squared norm across variants."""
    hinge = F.greatest(F.lit(0.0), F.lit(1.0) - F.col("y") * F.col("margin"))
    if xn is None:
        xn = vectors.norm2(F.col("x"))
    if variant == "pa":
        return hinge / xn
    if variant == "pa1":
        return F.least(F.lit(C), hinge / xn)
    if variant == "pa2":
        return hinge / (xn + F.lit(1.0 / (2.0 * C)))
    raise ValueError(f"unknown PA variant {variant!r}")


def tau_sql(variant: str, y: str = "y", margin: str = "margin", xn: str = "xn") -> str:
    """DuckDB twin of :func:`_tau` (identical arithmetic per variant)."""
    hinge = f"greatest(0.0, 1.0 - {y} * {margin})"
    if variant == "pa":
        return f"({hinge} / {xn})"
    if variant == "pa1":
        return f"least({C}, {hinge} / {xn})"
    if variant == "pa2":
        return f"({hinge} / ({xn} + {1.0 / (2.0 * C)}))"
    raise ValueError(f"unknown PA variant {variant!r}")


def binary_step(inst: DataFrame, variant: str = "pa1") -> DataFrame:
    """B8 one mini-batch PA step from the init weights: returns the new
    weight vector as (feat_id, w) rows.

    tau_i per ``variant`` (see :func:`_tau`); w += sum_i tau_i y_i x_i.
    The reference trains with PA-I by default.
    """
    return binary_steps_all_variants(inst, (variant,)).drop("variant")


def binary_steps_all_variants(inst: DataFrame, variants=("pa", "pa1", "pa2")) -> DataFrame:
    """All PA variants' batch steps from ONE margin/norm pass: the margin
    dot and the squared norm are computed once per instance (the
    expensive part), each variant's tau is a cheap scalar expression on
    those shared columns, and one feat_id fold sums every variant's
    column. Returns (variant, feat_id, w). The flat ``dot_fixed``
    squared norm is bitwise :func:`vectors.norm2` (the same left fold).

    The long (variant, feat_id) form is a union of per-variant
    projections of the folded frame, not an explode: a Generate over the
    fold (or a string variant key inside it) made doc_quality_filter's
    one-variant step ~0.5 s slower at sf0.1."""
    m = with_margin(inst).withColumn(
        "xn", vectors.dot_fixed(F.col("x"), F.col("x"), N_FEATURES)
    )
    stepped = m.select(
        *[(_tau(v, xn=F.col("xn")) * F.col("y")).alias(f"coef_{v}") for v in variants],
        F.posexplode("x").alias("feat_id", "x_f"),
    )
    sums = stepped.groupBy("feat_id").agg(
        *[
            F.sum((F.col(f"coef_{v}") * F.col("x_f")).cast("decimal(28,15)")).alias(f"d_{v}")
            for v in variants
        ]
    )
    w0 = factor_element(F.lit(0), F.col("feat_id"), W_SEED, W_LO, W_HI)
    return reduce(
        DataFrame.unionByName,
        [
            sums.select(
                F.lit(v).alias("variant"),
                F.col("feat_id").cast("long").alias("feat_id"),
                (w0 + F.col(f"d_{v}").cast("double")).alias("w"),
            )
            for v in variants
        ],
    )


def predict_binary(inst: DataFrame) -> DataFrame:
    """B10: sign of the margin under the init weights."""
    return with_margin(inst).select(
        "row_id",
        F.col("y").cast("long").alias("y"),
        F.signum(F.col("margin")).cast("long").alias("y_pred"),
        F.round(F.col("margin"), 6).alias("margin"),
    )


# ---------------------------------------------------------------------------
# Model-based document quality filtering (r8) — the CCNet/fastText shape:
# featurize documents, train a linear model on WEAK structural labels,
# score the corpus with the learned weights. Reuses the PA kernels
# unchanged because the doc feature space is deliberately N_FEATURES-dim.
# ---------------------------------------------------------------------------

_DEC28 = "decimal(28,15)"


def doc_quality_instances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(row_id, y, x) PA instances from `documents`: x = 64-dim hashed
    bag-of-tokens term-frequency vector (token char-fold hash mod
    N_FEATURES — the fastText hashing trick on the repo's deterministic
    hash), y = weak structural label (+1 iff the curation quality gate
    passes: n_chars >= CURATE_MIN_CHARS and tokens >= CURATE_MIN_TOKENS).

    Map-only featurization (no shuffle): the per-feature count is a
    filter/size over the token-hash array. Token-less docs (empty/null
    text) carry no features and are excluded, mirroring the oracle's
    len(th) >= 1 guard."""
    from ..operators._dedup_core import token_hashes
    from ..operators._util import fan_out
    from ..operators.curate import CURATE_MIN_CHARS, CURATE_MIN_TOKENS

    docs = t(spark, sf_dir, "documents")
    # fan_out (r15, FIXTURES.md #13 audit): the per-doc tokenize+hash
    # map is heavy enough to win its narrow-row shuffle even though it
    # feeds the (doc, feature) groupBy — measured interleaved A/B at
    # sf0.1 on the 1-partition fixture scan: median 1.01 -> 0.90 s
    # (x0.89, fan_out <= plain in 5/5 pairs). No-op on a many-split scan.
    th = token_hashes(fan_out(docs.select("doc_id", "text")))
    # one explode + (doc, feature) count instead of N_FEATURES
    # interpreted filter passes per doc (measured 4.3s -> ~1s at sf0.1
    # for the entry): the count/total values are bit-identical to the
    # oracle's per-feature list_filter form, so the impl is free to
    # differ — exact integer counts, same double division operands
    cnt = (
        th.select("doc_id", F.explode("th").alias("h"))
        .groupBy("doc_id", (F.col("h") % N_FEATURES).alias("f"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    feat = cnt.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("f", "c"))).alias("fm"),
        F.sum("c").alias("n_toks"),
    )
    x = F.transform(
        F.sequence(F.lit(0), F.lit(N_FEATURES - 1)),
        lambda f: F.coalesce(
            F.element_at(F.col("fm"), f.cast("long")), F.lit(0).cast("long")
        ).cast("double")
        / F.col("n_toks"),
    )
    j = docs.select("doc_id", "n_chars").join(feat, "doc_id")
    y = (
        F.when(
            (F.col("n_chars") >= CURATE_MIN_CHARS)
            & (F.col("n_toks") >= CURATE_MIN_TOKENS),
            F.lit(1.0),
        ).otherwise(F.lit(-1.0))
    )
    return j.select(F.col("doc_id").alias("row_id"), y.alias("y"), x.alias("x"))


def doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-score: one aggregated PA-I batch step from w0 over the
    weak-labeled corpus (w1 = w0 + sum tau_i y_i x_i — :func:`binary_step`
    verbatim), then every doc scored under the LEARNED w1. Returns
    (row_id, y, y_pred, margin) like :func:`predict_binary`, margin
    under w1.

    Scale shape: featurize map-only; the step shuffles (feat_id) with
    map-side combine (N_FEATURES keys); scoring joins the 64-row w1
    broadcast against the exploded triplets and folds per doc with
    exact decimal sums (order-independent, oracle-identical). At 100 TB
    the weak-label seed set would be a sample, w1 still broadcast."""
    from ..scratch import scratch

    inst = scratch(doc_quality_instances(spark, sf_dir))
    w1 = binary_step(inst, "pa1")  # (feat_id, w) — unrounded weights
    tri = inst.select("row_id", "y", F.posexplode("x").alias("feat_id", "x_f"))
    sc = (
        tri.join(F.broadcast(w1), "feat_id")
        .groupBy("row_id", "y")
        .agg(F.sum((F.col("x_f") * F.col("w")).cast(_DEC28)).alias("ms"))
    )
    m1 = F.col("ms").cast("double")
    return sc.select(
        "row_id",
        F.col("y").cast("long").alias("y"),
        F.signum(m1).cast("long").alias("y_pred"),
        F.round(m1, 6).alias("margin"),
    )


def _ids(n: int) -> Column:
    """explode(sequence(0, n-1)) as BIGINT: ids generated in place, no
    range cross join (so no nested-loop join in any plan that reads it)."""
    return F.explode(F.sequence(F.lit(0).cast("long"), F.lit(n - 1).cast("long")))


def _violator_updates(scores: DataFrame, xtab: DataFrame) -> DataFrame:
    """The multiclass PA rule, from each row's class scores (row_id,
    label, c, score) and its features xtab (row_id, x): the violator v is
    the top-scoring class != label (ties to the lower class id), tau =
    max(0, 1 - (s_label - s_v)) / (2||x||^2), and the row pushes +tau*x
    to class ``label`` and -tau*x to class v. Returns one (class_id,
    coef, x) row per signed update."""
    wv = Window.partitionBy("row_id").orderBy(F.col("score").desc(), F.col("c"))
    viol = (
        scores.where(F.col("c") != F.col("label"))
        .withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select("row_id", F.col("c").alias("v"), F.col("score").alias("s_v"))
    )
    tru = scores.where(F.col("c") == F.col("label")).select(
        "row_id", "label", F.col("score").alias("s_y")
    )
    upd = tru.join(viol, "row_id").join(xtab, "row_id").withColumn(
        "tau",
        F.greatest(F.lit(0.0), F.lit(1.0) - (F.col("s_y") - F.col("s_v")))
        / (F.lit(2.0) * vectors.norm2(F.col("x"))),
    )
    return upd.select(
        F.explode(
            F.array(
                F.struct(F.col("label").cast("long").alias("class_id"), F.col("tau").alias("coef")),
                F.struct(F.col("v").cast("long").alias("class_id"), (-F.col("tau")).alias("coef")),
            )
        ).alias("s"),
        "x",
    ).select(F.col("s.class_id").alias("class_id"), F.col("s.coef").alias("coef"), "x")


def multiclass_step(inst: DataFrame) -> DataFrame:
    """B9 one mini-batch multiclass PA step from the init weights (see
    :func:`_violator_updates` for the rule). Returns (class_id, feat_id, w).
    """
    scores = inst.select("row_id", "label", "x", _ids(N_CLASSES).alias("c")).select(
        "row_id", "label", "c", vectors.dot(F.col("x"), class_w0_array(F.col("c"))).alias("score")
    )
    signed = _violator_updates(scores, inst.select("row_id", "x"))
    deltas = (
        signed.select("class_id", "coef", F.posexplode("x").alias("feat_id", "x_f"))
        .groupBy("class_id", "feat_id")
        .agg(F.sum((F.col("coef") * F.col("x_f")).cast("decimal(28,15)")).alias("d"))
    )
    # full weight matrix: untouched cells stay at their init value
    base = (
        inst.sparkSession.range(1)
        .select(_ids(N_CLASSES).alias("class_id"))
        .select("class_id", _ids(N_FEATURES).alias("feat_id"))
    )
    return (
        base.join(deltas, ["class_id", "feat_id"], "left")
        .select(
            "class_id",
            "feat_id",
            (
                factor_element(F.col("class_id"), F.col("feat_id"), W_SEED, W_LO, W_HI)
                + F.coalesce(F.col("d").cast("double"), F.lit(0.0))
            ).alias("w"),
        )
    )


def train_multiclass(spark: SparkSession, inst: DataFrame, epochs: int = 2) -> DataFrame:
    """B9 full trainer: the weight MATRIX lives in one PS keyed by the
    flattened cell id class*N_FEATURES + feat (the reference shards the
    per-class weight vectors across servers the same way [C-high]).
    Mini-batch epochs; per epoch: score all classes from current weights,
    then push :func:`_violator_updates`. Returns (class_id, feat_id, w).
    """
    ps = BatchParameterServer(
        init_fn=lambda pid: F.array(
            factor_element(
                F.floor(pid / N_FEATURES), pid % N_FEATURES, W_SEED, W_LO, W_HI
            )
        ),
    )

    # the (row, class, feature) cell stream carries SCALARS only — the
    # 64-dim x array would otherwise ride through the |rows|*|classes|*
    # |features| pull join and its aggregation buffers; it is re-joined
    # from the |rows|-sized instance table after scoring (measured 2x at
    # sf0.1)
    tri = inst.select("row_id", "label", F.posexplode("x").alias("feat_id", "x_f"))
    cells = tri.select("*", _ids(N_CLASSES).alias("c")).select(
        "row_id", "label", "c", "x_f",
        (F.col("c") * N_FEATURES + F.col("feat_id")).alias("param_id"),
    )
    xtab = inst.select("row_id", "x")

    def step(data: DataFrame, server: BatchParameterServer) -> DataFrame:
        scores = server.pull(data).groupBy("row_id", "c").agg(
            F.sum(F.element_at("value", 1) * F.col("x_f")).alias("score"),
            F.first("label").alias("label"),
        )
        signed = _violator_updates(scores, xtab)
        return signed.select(
            "class_id", "coef", F.posexplode("x").alias("feat_id", "x_f")
        ).select(
            (F.col("class_id") * N_FEATURES + F.col("feat_id")).alias("param_id"),
            F.array(F.col("coef") * F.col("x_f")).alias("delta"),
        )

    return ps.iterate(cells, step, epochs).select(
        F.floor(F.col("param_id") / N_FEATURES).cast("long").alias("class_id"),
        (F.col("param_id") % N_FEATURES).cast("long").alias("feat_id"),
        F.round(F.element_at("value", 1), 6).alias("w"),
    )


def train_binary(spark: SparkSession, inst: DataFrame, epochs: int = 3) -> DataFrame:
    """B8 full trainer on the PS kernel (width-1 weight vectors keyed by
    feat_id). Mini-batch PA-I epochs — documented divergence from the
    reference's per-record sequential updates."""
    ps = BatchParameterServer(
        init_fn=lambda pid: F.array(factor_element(F.lit(0), pid, W_SEED, W_LO, W_HI)),
    )

    # same scalar-only cell-stream rule as train_multiclass: the feature
    # array is re-joined by row_id after the margin aggregation instead
    # of riding through the triplet pull join
    xtab = inst.select("row_id", "x")

    def step(data: DataFrame, server: BatchParameterServer) -> DataFrame:
        tri = data.select("row_id", "y", F.posexplode("x").alias("feat_id", "x_f"))
        pulled = server.pull(tri.withColumnRenamed("feat_id", "param_id"))
        margins = pulled.groupBy("row_id").agg(
            F.sum(F.element_at("value", 1) * F.col("x_f")).alias("margin"),
            F.first("y").alias("y"),
        )
        tau = margins.join(xtab, "row_id").select(
            "row_id", (_tau("pa1") * F.col("y")).alias("coef"), "x"
        )
        return tau.select(
            F.posexplode("x").alias("param_id", "x_f"), "coef"
        ).select(F.col("param_id").cast("long").alias("param_id"), F.array(F.col("coef") * F.col("x_f")).alias("delta"))

    return ps.iterate(inst, step, epochs)
