"""Derived fixture dirs: the fixture tables with some of them rewritten.

A derived dir holds every ``sources.TABLES`` table as ONE bare
``<table>.parquet`` file, the fixture layout (TESTDATA.md) that
the streaming sources' pathGlobFilter contract depends on: a part-file
directory streams zero rows. ``derive`` builds one from a source dir.
``DEGENERATE`` names the degenerate-input variants and ``replicas`` the
xN key-offset copy. Check every entry against its oracle on a derived
dir with ``python selfcheck.py --sf DIR``; time one entry on it with
``python tools/ab.py <entry> --variant change=. --sf DIR``.
"""

from __future__ import annotations

import glob
import os
import shutil
from functools import partial, reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_parameter_server_spark.sources import TABLES


def derive(spark, src: str, out: str, tables=None) -> str:
    """Write every TABLES table of ``src`` into ``out`` and return ``out``.

    ``tables`` maps a table to a DataFrame (written as is) or to a
    function of the source table's frame (its result written). A table
    it does not name is copied byte for byte.
    """
    os.makedirs(out, exist_ok=True)
    for table in TABLES:
        dest = f"{out}/{table}.parquet"
        rewrite = (tables or {}).get(table)
        if rewrite is None:
            shutil.copyfile(f"{src}/{table}.parquet", dest)
            continue
        df = rewrite if isinstance(rewrite, DataFrame) else rewrite(spark.read.parquet(f"{src}/{table}.parquet"))
        tmp = f"{out}/_tmp_{table}"
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        [part] = glob.glob(f"{tmp}/part-*.parquet")
        shutil.move(part, dest)
        shutil.rmtree(tmp)
    return out


# --------------------------------------------------------------------------
# degenerate inputs: what a 100 TB lake hands an operator after a
# filter, a pruned scan or a partly failed upstream extraction
# --------------------------------------------------------------------------


def _null_parity(col: str, key: str):
    """NULL the payload column on the even-key half of the rows."""
    return lambda df: df.withColumn(
        col, F.when(F.col(key) % 2 == 0, F.lit(None)).otherwise(F.col(col))
    )


def _hot_key(col: str, key: str):
    """Remap a third of the rows (key % 3 == 0) onto ONE existing key,
    min(col), so every remapped row still references a dimension row:
    the whale-customer / bot-user / staple-item shape."""

    def rewrite(df):
        hot = df.agg(F.min(col)).first()[0]
        return df.withColumn(col, F.when(F.col(key) % 3 == 0, F.lit(hot)).otherwise(F.col(col)))

    return rewrite


def _multibyte_text(df):
    # every third token suffixed with a Latin-1 accent, CJK and an astral
    # emoji: separates byte-level from codepoint-level semantics between
    # the engines; n_chars recomputed in characters per the fixture
    # contract
    text = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda tok, i: F.when(
                (i % 3 == F.lit(0)) & (tok != F.lit("")),
                F.concat(tok, F.lit("é漢\U0001F600")),
            ).otherwise(tok),
        ),
        " ",
    )
    return df.withColumn("text", text).withColumn("n_chars", F.length("text").cast("long"))


def _minute_ties(df):
    # ts truncated to the minute: mass ties expose any ordering that is
    # not fully tie-broken (keep-first dedup, as-of joins, sessions)
    return df.withColumn("ts", F.date_trunc("minute", F.col("ts")).cast(df.schema["ts"].dataType))


def _nonfinite_values(df):
    # NaN / +inf / -inf on a sparse sample: engine NaN conventions
    # (ordering, equality, aggregation) are the classic divergence
    value = (
        F.when(F.col("event_id") % 101 == 0, F.lit(float("nan")))
        .when(F.col("event_id") % 103 == 0, F.lit(float("inf")))
        .when(F.col("event_id") % 107 == 0, F.lit(float("-inf")))
        .otherwise(F.col("value"))
    )
    return df.withColumn("value", value)


def _empty_text(df):
    # EMPTY (not null) text on one parity class survives `text IS NOT
    # NULL`, so every zero-length branch runs; WHITESPACE-only text with
    # a tab on another: the space tokenizer keeps '\t' as a token while
    # the normalized-dedup regex collapses it, identically in both engines
    text = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(""))
        .when(F.col("doc_id") % 4 == 2, F.lit(" \t  "))
        .otherwise(F.col("text"))
    )
    return df.withColumn("text", text).withColumn("n_chars", F.length("text").cast("long"))


def _first_rows(n: int):
    """Every table cut to its first n rows. n=0 leaves empty tables with
    their schemas; n=1 breaks FK selectivity (the one supplier's nation
    is not the one nation row)."""
    return {table: (lambda df: df.limit(n)) for table in TABLES}


# variant -> per-table rewrites; `derive(spark, src, out, DEGENERATE[v])`
DEGENERATE = {
    "rows0": _first_rows(0),
    "rows1": _first_rows(1),
    "nulls": {
        "documents": _null_parity("text", "doc_id"),
        "embeddings": _null_parity("embedding", "vec_id"),
        "events": _null_parity("props", "event_id"),
        "part": _null_parity("p_name", "p_partkey"),
    },
    "skew": {
        "orders": _hot_key("o_custkey", "o_orderkey"),
        "events": _hot_key("user_id", "event_id"),
        "lineitem": _hot_key("l_partkey", "l_orderkey"),
    },
    "unicode": {"documents": _multibyte_text},
    "ties": {"events": _minute_ties},
    "nonfinite": {"events": _nonfinite_values},
    "emptytext": {"documents": _empty_text},
}


# --------------------------------------------------------------------------
# xN key-offset replica: N disjoint sub-databases, the shape an N-times
# bigger tenant has
# --------------------------------------------------------------------------

OFF = 10_000_000  # > any sf0.1 key; divisible by the topk user_stride 50

# every key column gets + i * OFF in replica i (FK pairs offset together,
# so referential integrity and per-key group sizes hold); nation and
# region are not listed, so they stay single-copy shared dims
KEY_COLS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def _replica(table: str, i: int, df: DataFrame) -> DataFrame:
    for k in KEY_COLS[table]:
        df = df.withColumn(k, F.col(k) + F.lit(i * OFF))
    if table == "documents" and i > 0:
        # a per-replica letter on EVERY token: vocabularies disjoint across
        # replicas, so near-dup candidate generation does not see every
        # copy as a clone (empty tokens stay empty)
        sfx = chr(ord("a") + i)
        text = F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda tok: F.when(tok == F.lit(""), tok).otherwise(F.concat(tok, F.lit(sfx))),
            ),
            " ",
        )
        df = df.withColumn("text", text).withColumn("n_chars", F.length("text").cast("long"))
    if table == "embeddings" and i > 0:
        # circular shift by i dims: norm-preserving, no cross-replica
        # collisions in every LSH bucket
        df = df.withColumn(
            "embedding",
            F.concat(F.slice(F.col("embedding"), i + 1, 10_000), F.slice(F.col("embedding"), 1, i)),
        )
    return df


def _replicated(table: str, n: int, df: DataFrame) -> DataFrame:
    return reduce(DataFrame.unionByName, [_replica(table, i, df) for i in range(n)])


def replicas(n: int) -> dict:
    """Per-table rewrites for the xn key-offset replica."""
    return {table: partial(_replicated, table, n) for table in KEY_COLS}
