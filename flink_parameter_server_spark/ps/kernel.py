"""Batch parameter-server kernel.

Reference mapping (SURVEY.md §0 citation convention — public repo layout
`src/main/scala/hu/sztaki/ilab/ps/`):

- `FlinkParameterServer.scala#transform` [C-high]  -> :meth:`BatchParameterServer.iterate`
  (the cyclic worker<->server dataflow becomes a driver-side epoch loop;
  each epoch is a pure DataFrame program, so Catalyst/AQE optimizes every
  step and there is no iteration liveness timeout to tune).
- `ParameterServerClient#pull` [C-high]            -> :meth:`pull` (equi-join on param_id)
- `ParameterServerClient#push` [C-high]            -> :meth:`push` (groupBy(param_id).sum fold)
- `server/SimplePSLogic` (lazy init + fold) [C-med] -> deterministic
  ``init_fn`` + ``coalesce`` on the outer join (init is a pure function of
  param_id + seed, so it needs no state and the DuckDB oracle can
  reproduce it).
- `FlinkParameterServer.scala#transformWithModelLoad` [C-med] -> :meth:`load`
- `ParameterServerLogic.close -> output` (model dump) [C-med] -> :attr:`params`
  (the state *is* a DataFrame; write it with ``.write.parquet``).

Scale design: the reference's servers keep state partitioned by
`paramId % psParallelism` [C-high] and touch only the pushed keys. Here
a push folds its deltas in one aggregation hash-partitioned by param_id
and combined map-side (the reference's client/server message combiners
`common/CombinationLogic` [C-med] are subsumed by partial aggregation),
then merges them into the whole model with a full outer join. The
checkpoint cut below drops the params' partitioning, so each merge from
the second push on exchanges the whole model, not only the deltas.

Lineage: every push ends in one eager ``localCheckpoint`` of the merged
params (:func:`scratch.scoped_checkpoint`), so a push costs the same
whatever its position and the params frame is always a scan of
checkpoint blocks with no history behind it. A push is therefore eager:
it runs the fold and the merge. The kernel never frees a superseded
checkpoint, so a params frame a caller still holds stays readable:
the blocks go to the current scratch owner and accumulate one per push
until ``scratch.release()`` (or the enclosing scope) frees them. A
long-running server frees the cuts it supersedes itself, as the
transport's ``run_server`` does once a batch has written its answers.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import cached_property

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import scoped_checkpoint

InitFn = Callable[[Column], Column]  # param_id -> initial value (deterministic)


class BatchParameterServer:
    """Sharded mutable model state as a DataFrame(param_id BIGINT, value ARRAY<DOUBLE>).

    ``updates`` pushed via :meth:`push` are summed per key (additive fold,
    the reference's default ``paramUpdate`` [C-med]) and merged into state;
    unseen keys are lazily initialized with ``init_fn``. Every value has
    the width of ``init_fn``'s array.
    """

    def __init__(self, init_fn: InitFn, params: DataFrame | None = None) -> None:
        self.init_fn = init_fn
        self.params = params  # None => everything lazily initialized
        self._width: int | None = None  # vector width, derived on first push

    @cached_property
    def _init(self) -> Column:
        """``init_fn(param_id)``, built once per server: composing it goes
        through tens of py4j calls (~40 ms for a k=8 factor vector)."""
        return self.init_fn(F.col("param_id"))

    def _k(self, spark: SparkSession) -> int:
        """The vector width: ``size(init_fn(param_id))`` over a one-row
        ``VALUES`` relation, worked out once per server. Catalyst folds a
        projection over a local relation on the driver, so this runs no
        Spark job (``spark.range(1)`` or ``createDataFrame`` would run at
        least one). ``init_fn`` must give every param_id the same width."""
        if self._width is None:
            one = spark.sql("SELECT * FROM VALUES (CAST(0 AS BIGINT)) AS t(param_id)")
            self._width = one.select(F.size(self._init)).first()[0]
        return self._width

    # -- A6: transformWithModelLoad ---------------------------------------
    @classmethod
    def load(cls, spark, path: str, init_fn: InitFn) -> "BatchParameterServer":
        """Seed server state from a previously dumped model."""
        return cls(init_fn, params=spark.read.parquet(path))

    # -- A2: pull ----------------------------------------------------------
    def pull(self, keys: DataFrame) -> DataFrame:
        """Resolve current values for ``keys`` (a ``param_id`` column;
        lazy init for misses).

        The request/response round-trip of the reference becomes one
        equi-join; broadcast if the key side is small, else a shuffle
        hash/sort-merge join that AQE picks.

        Cold state (no params yet) builds the init table over DISTINCT
        keys and joins it back instead of inlining ``init_fn`` per
        request row: the k-hash init expression runs O(|param ids|)
        times, not O(|requests|), and the value arrives as a join
        attribute — which stops Catalyst's projection collapse from
        re-inlining the whole init array into every downstream
        element_at/transform reference (measured 25x on the sf0.1 MF
        epoch: the inline form re-evaluated 8-hash vectors per delta
        element per rating row).
        """
        if self.params is None:
            init_tab = (
                keys.select("param_id")
                .distinct()
                .withColumn("value", self._init)
            )
            return keys.join(init_tab, "param_id")
        joined = keys.join(self.params, "param_id", "left")
        return joined.withColumn("value", F.coalesce(F.col("value"), self._init))

    # -- A3/A4/A5: push + server fold ---------------------------------------
    def push(self, deltas: DataFrame) -> None:
        """Fold additive deltas (param_id, delta ARRAY<DOUBLE>) into state.

        groupBy does map-side partial aggregation (the reference's message
        combiner); the outer join + coalesce implements SimplePSLogic's
        lazy init + fold, a key with no delta adding a zero array. The
        merged params are checkpointed before the call returns.
        """
        k = self._k(deltas.sparkSession)
        agg = _fold_deltas(deltas, k)
        base = self.params
        if base is None:
            merged = agg.select(
                "param_id",
                F.zip_with(self._init, F.col("delta"), lambda a, b: a + b).alias("value"),
            )
        else:
            zeros = F.array(*[F.lit(0.0)] * k)
            merged = base.join(agg, "param_id", "full").select(
                "param_id",
                F.zip_with(
                    F.coalesce(F.col("value"), self._init),
                    F.coalesce(F.col("delta"), zeros),
                    lambda a, b: a + b,
                ).alias("value"),
            )
        self.params = scoped_checkpoint(merged)

    # -- A1: transform (the iteration) --------------------------------------
    def iterate(
        self,
        data: DataFrame,
        step_fn: Callable[[DataFrame, "BatchParameterServer"], DataFrame],
        epochs: int,
    ) -> DataFrame:
        """Driver-loop replacement for the cyclic dataflow: each epoch the
        worker logic computes deltas from (data, current params) and pushes
        them. Returns the final model DataFrame.
        """
        for _ in range(epochs):
            self.push(step_fn(data, self))
        assert self.params is not None
        return self.params


def _fold_deltas(deltas: DataFrame, k: int) -> DataFrame:
    """Elementwise sum of (param_id, delta ARRAY<DOUBLE>) rows per key:
    k flat ``sum(delta[j])`` aggregates in ONE aggregation. It gets
    map-side partial aggregation (each map task ships at most one k-wide
    partial row per key, whatever the fan-in) and needs one shuffle, with
    no row explosion and no re-assembly (measured 3s -> 0.9s per MF epoch
    fold at sf0.1, k=8, against an explode + per-dimension sum).

    The sums read ``delta[j]`` (GetArrayItem). Producers should build
    the delta as a flat ``array(...)`` (CreateArray): SimplifyExtractValueOps
    folds ``array(...)[j]`` to its j-th element wherever the projection
    collapses into the aggregation, and otherwise the array is built once
    per row in generated code. A ``transform(...)`` delta gets neither:
    its lambda runs interpreted per element, and Catalyst inlines a
    single-use input column into the lambda body (mf.train's 8-term error
    term ran k times per rating that way).
    """
    sums = deltas.groupBy("param_id").agg(
        *[F.sum(F.col("delta")[j]).alias(f"_d{j}") for j in range(k)]
    )
    return sums.select(
        "param_id", F.array(*[F.col(f"_d{j}") for j in range(k)]).alias("delta")
    )
