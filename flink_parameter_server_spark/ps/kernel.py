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

Scale design: params are hash-partitioned by param_id exactly like the
reference's `paramId % psParallelism` partitioner [C-high] — Spark's
shuffle does this implicitly on every groupBy/join. Pushes are combined
map-side (the reference's client/server message combiners
`common/CombinationLogic` [C-med] are subsumed by partial aggregation).
Each epoch's params are ``persist``-ed and every superseded epoch stays
cached until the next eager ``localCheckpoint`` (every ``checkpoint_every``
pushes) has read it, so one epoch costs the same whatever its position:
it reads the previous epoch from cache instead of recomputing the history
back to the last cut. Unpersisting the previous epoch while the new one
is still lazy would make Spark's cache manager re-plan the new epoch
without that cache: mf.train at sf0.001 ran 8/15/32/66 Spark jobs for 1-4
epochs that way, against 8/13/19/25 with the chain kept.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import cached_property

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scratch import scoped_checkpoint, scratch

InitFn = Callable[[Column], Column]  # param_id -> initial value (deterministic)


class BatchParameterServer:
    """Sharded mutable model state as a DataFrame(param_id BIGINT, value ARRAY<DOUBLE>).

    ``updates`` pushed via :meth:`push` are summed per key (additive fold,
    the reference's default ``paramUpdate`` [C-med]) and merged into state;
    unseen keys are lazily initialized with ``init_fn``. Every value has
    the width of ``init_fn``'s array.
    """

    def __init__(
        self,
        init_fn: InitFn,
        params: DataFrame | None = None,
        checkpoint_every: int = 5,
    ) -> None:
        self.init_fn = init_fn
        self.params = params  # None => everything lazily initialized
        self.checkpoint_every = checkpoint_every
        self._width: int | None = None  # vector width, derived on first push
        self._epoch = 0
        # params frames superseded since the last checkpoint cut, still
        # cached: the newer, lazy epochs read them
        self._superseded: list[DataFrame] = []

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
        lazy init + fold, a key with no delta adding a zero array.
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
            self._superseded.append(base)
        self._epoch += 1
        if self._epoch % self.checkpoint_every == 0:
            merged = scoped_checkpoint(merged)
            # the eager cut has read the whole cached chain and the new
            # params no longer reference it. Newest first, so the cache
            # manager has no chain dependent left to re-plan when an
            # older one goes.
            while self._superseded:
                self._superseded.pop().unpersist()
        else:
            # scratch-tracked: stays cached until the next cut (above), or
            # until the next registry query begins (scratch.py lifecycle)
            merged = scratch(merged)
        self.params = merged

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
