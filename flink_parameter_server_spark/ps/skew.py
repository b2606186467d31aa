"""Skew mitigation for hot parameter ids (SURVEY.md §4, 100 TB path).

The reference shards parameters by `paramId % psParallelism`
(`FlinkParameterServer.scala` partitioners [C-high]); a hot id (one item
everyone rates, one feature in every instance) funnels its entire
delta stream through a single server instance. Spark inherits the same
problem through shuffle partitioning on the groupBy key.

Two remedies, both provided here:

- AQE skew-join splitting handles skewed *joins* automatically
  (`spark.sql.adaptive.skewJoin.enabled`, on in session.py).
- Skewed *aggregation* needs salting: `salted_sum` does the classic
  two-stage aggregate — stage 1 groups on (key, salt) spreading a hot
  key over N reducers, stage 2 merges the N partials. For additive PS
  pushes (the default `paramUpdate` fold) this is semantics-preserving
  because the fold is commutative+associative.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_sum(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    n_salts: int = 16,
    salt_src: Column | None = None,
) -> DataFrame:
    """Two-stage skew-safe sum of `value_col` per `key_cols`.

    salt_src defaults to a deterministic spread over input rows
    (monotonically_increasing_id is fine — the salt only balances, it
    never reaches the result).
    """
    salt = (salt_src if salt_src is not None else F.monotonically_increasing_id()) % n_salts
    stage1 = (
        df.withColumn("__salt", salt)
        .groupBy(*key_cols, "__salt")
        .agg(F.sum(value_col).alias("__partial"))
    )
    return stage1.groupBy(*key_cols).agg(F.sum("__partial").alias(value_col))
