"""Invariants of the xN key-offset replica (tests/fixture_dirs.py
`replicas`), the dir shape BASELINE.md's ~sf1 tables rest on ("Third-
decade rehearsal at ~sf1"). Derived from sf0.001 with 3 replicas so the
test stays cheap; the invariants are scale-independent:

- row counts scale by the replica factor; shared dims stay single-copy
- referential integrity: every offset FK resolves (orders->customer,
  lineitem->orders/part/supplier)
- document token vocabularies are DISJOINT across replicas (the
  property that keeps near-dup candidate generation honest at 10x)
  and n_chars matches the perturbed text
- embeddings keep their norms (circular shift) and vec_ids are unique
- every table lands as ONE bare parquet file (the driver fixture
  layout the streaming source's pathGlobFilter contract requires)
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from flink_parameter_server_spark.sources import TABLES
from tests import fixture_dirs as fd
from tests.conftest import SF_SMALL

N_REP = 3
SHARED_DIMS = [t for t in TABLES if t not in fd.KEY_COLS]


def _gen(spark, tmp_path):
    return fd.derive(spark, SF_SMALL, str(tmp_path / "sfx3"), fd.replicas(N_REP))


def test_replica_invariants(spark, tmp_path):
    out = _gen(spark, tmp_path)

    # single bare file per table
    for table in list(fd.KEY_COLS) + SHARED_DIMS:
        assert os.path.isfile(f"{out}/{table}.parquet"), table

    # counts: keyed tables x3, shared dims x1
    for table in fd.KEY_COLS:
        n0 = spark.read.parquet(f"{SF_SMALL}/{table}.parquet").count()
        n1 = spark.read.parquet(f"{out}/{table}.parquet").count()
        assert n1 == N_REP * n0, (table, n0, n1)
    for table in SHARED_DIMS:
        n0 = spark.read.parquet(f"{SF_SMALL}/{table}.parquet").count()
        assert spark.read.parquet(f"{out}/{table}.parquet").count() == n0

    orders = spark.read.parquet(f"{out}/orders.parquet")
    cust = spark.read.parquet(f"{out}/customer.parquet")
    li = spark.read.parquet(f"{out}/lineitem.parquet")
    part = spark.read.parquet(f"{out}/part.parquet")
    supp = spark.read.parquet(f"{out}/supplier.parquet")

    # referential integrity of every offset FK
    assert orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti").count() == 0
    assert li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti").count() == 0
    assert li.join(part, li.l_partkey == part.p_partkey, "left_anti").count() == 0
    assert li.join(supp, li.l_suppkey == supp.s_suppkey, "left_anti").count() == 0


def test_document_and_embedding_perturbation(spark, tmp_path):
    out = _gen(spark, tmp_path)
    docs = spark.read.parquet(f"{out}/documents.parquet").withColumn(
        "replica", F.floor(F.col("doc_id") / fd.OFF)
    )
    # vocabularies disjoint across replicas: each distinct token maps to
    # exactly one replica
    tok = docs.select(
        "replica", F.explode(F.split("text", " ")).alias("t")
    ).where(F.col("t") != "")
    cross = tok.groupBy("t").agg(F.countDistinct("replica").alias("nr"))
    assert cross.where(F.col("nr") > 1).count() == 0
    # n_chars consistent with the perturbed text
    assert docs.where(F.col("n_chars") != F.length("text")).count() == 0

    emb0 = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    emb = spark.read.parquet(f"{out}/embeddings.parquet")
    # unique ids, norms preserved per replica of each base vector
    assert emb.select("vec_id").distinct().count() == emb.count()
    norm = F.round(
        F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x)), 4
    )
    base = emb0.select(F.col("vec_id").alias("bid"), norm.alias("n0"))
    got = emb.select(
        (F.col("vec_id") % fd.OFF).alias("bid"), norm.alias("n1")
    )
    assert got.join(base, "bid").where(F.col("n0") != F.col("n1")).count() == 0
