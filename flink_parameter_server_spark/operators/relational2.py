"""Relational substrate, part 2: grouping sets, the full window-function
surface, predicate forms, and the UDF/UDTF layer (SURVEY.md §2 D3, D11,
D12, D22).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..plans.registry import register
from ._util import dround, exact_sum, money_sum as _money_sum, t, with_grand_total


@register(
    "orders_grouping_sets",
    oracle="""
SELECT 'gsets' AS gset, o_orderstatus, o_orderpriority, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
UNION ALL
SELECT 'cube' AS gset, o_orderstatus, o_orderpriority, count(*) AS n,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    tags=("D11",),
    doc="The grouping-sets family in one query discriminated by `gset` "
    "(orders_cube folded in, registry consolidation r3). 'gsets': "
    "explicit non-hierarchical GROUPING SETS (by status, by priority — "
    "neither rollup nor cube expresses this pair). 'cube': full CUBE "
    "over status x priority. Both lower to one Expand + hash aggregate "
    "per branch.",
)
def orders_grouping_sets(spark, sf_dir):
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    gsets = spark.sql(
        """
        SELECT 'gsets' AS gset, o_orderstatus, o_orderpriority, count(*) AS n,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )
    cube = with_grand_total(
        t(spark, sf_dir, "orders"),
        "cube",
        ["o_orderstatus", "o_orderpriority"],
        F.count(F.lit(1)).alias("n"),
        _money_sum(F.col("o_totalprice")).alias("total_price"),
    ).select(
        F.lit("cube").alias("gset"),
        "o_orderstatus",
        "o_orderpriority",
        "n",
        "total_price",
    )
    return gsets.unionByName(cube)


def _owa_oracle() -> str:
    from .relational import CUSTOMER_TIMELINE_SQL

    return _OWA_ORACLE_TMPL.replace("{TIMELINE_SQL}", CUSTOMER_TIMELINE_SQL)


_OWA_ORACLE_TMPL = """
WITH tl AS ({TIMELINE_SQL}),
wa AS (
SELECT o_orderkey,
       rank()         OVER w AS rnk,
       dense_rank()   OVER w AS drnk,
       round(percent_rank() OVER w, 6) AS prnk,
       round(cume_dist()    OVER w, 6) AS cdist,
       first_value(o_orderkey) OVER w AS first_key,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
             OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice
                   RANGE BETWEEN 100 PRECEDING AND 100 FOLLOWING) AS DOUBLE), 4) AS nearby_price_sum
FROM orders
WHERE o_orderkey % 20 = 0
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
)
SELECT tl.o_orderkey, tl.rn, tl.prev_price, tl.next_price, tl.running_total,
       tl.quartile, wa.rnk, wa.drnk, wa.prnk, wa.cdist, wa.first_key,
       wa.nearby_price_sum
FROM tl LEFT JOIN wa USING (o_orderkey)
"""


@register(
    "order_window_analytics",
    oracle=_owa_oracle(),
    tags=("D12",),
    doc="The full window-function surface in one wide result "
    "(customer_order_timeline folded in, registry consolidation r3; "
    "per-order LEFT JOIN of the two window families — the ranking "
    "columns are null off the 1-in-20 sample). Per-customer timeline: "
    "row_number, lag, lead, running decimal sum over a ROWS frame, "
    "ntile — one shuffle on o_custkey serves all five (same window "
    "spec, deterministic tie-break on o_orderkey). Per-status ranking: "
    "rank, dense_rank, percent_rank, cume_dist, first_value, and a "
    "RANGE-frame aggregate (value-based frame, the one rowsBetween "
    "can't express).",
)
def order_window_analytics(spark, sf_dir):
    from .relational import customer_order_timeline

    tl = customer_order_timeline(spark, sf_dir)
    o = t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 20 == 0)
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    wr = (
        Window.partitionBy("o_orderstatus")
        .orderBy("o_totalprice")
        .rangeBetween(-100, 100)
    )
    wa = o.select(
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.first("o_orderkey").over(w).alias("first_key"),
        dround(exact_sum(F.col("o_totalprice")).over(wr), 4).alias("nearby_price_sum"),
    )
    return tl.join(wa, "o_orderkey", "left")


@register(
    "lineitem_predicate_surface",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(l_returnflag LIKE 'A%' AS BIGINT)                       AS is_a_flag,
       CAST(regexp_matches(l_returnflag, '^[AN]$') AS BIGINT)       AS matches_an,
       CAST((l_returnflag IS NOT DISTINCT FROM l_linestatus) AS BIGINT) AS nullsafe_eq,
       CAST(l_quantity BETWEEN 10 AND 20 AS BIGINT)                 AS qty_mid,
       CAST(l_returnflag IN ('A', 'R') AS BIGINT)                   AS flag_ar,
       CASE WHEN l_discount > 0.05 THEN 'hi' WHEN l_discount > 0.02 THEN 'mid' ELSE 'lo' END AS disc_band
FROM lineitem WHERE l_orderkey % 50 = 0
""",
    tags=("D3",),
    doc="Predicate surface: LIKE, regexp match, null-safe equality (<=>), "
    "BETWEEN, IN, searched CASE — each surfaced as a column so the oracle "
    "checks truth values, not just filtering.",
)
def lineitem_predicate_surface(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 50 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_returnflag").like("A%").cast("long").alias("is_a_flag"),
        F.col("l_returnflag").rlike("^[AN]$").cast("long").alias("matches_an"),
        F.col("l_returnflag").eqNullSafe(F.col("l_linestatus")).cast("long").alias("nullsafe_eq"),
        F.col("l_quantity").between(10, 20).cast("long").alias("qty_mid"),
        F.col("l_returnflag").isin("A", "R").cast("long").alias("flag_ar"),
        F.when(F.col("l_discount") > 0.05, "hi")
        .when(F.col("l_discount") > 0.02, "mid")
        .otherwise("lo")
        .alias("disc_band"),
    )


@register(
    "customers_above_nation_avg",
    oracle="""
WITH navg AS (
  SELECT c_nationkey,
         CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS avg_bal
  FROM customer GROUP BY c_nationkey
)
SELECT c_custkey, round(CAST(c_acctbal AS DOUBLE), 4) AS acctbal,
       round(avg_bal, 4) AS nation_avg
FROM customer JOIN navg USING (c_nationkey)
WHERE c_acctbal > avg_bal
""",
    tags=("D3", "D9"),
    doc="Correlated-scalar-subquery shape (customers above their nation's "
    "average balance), written as the correlated subquery in Spark SQL so "
    "Catalyst's RewriteCorrelatedScalarSubquery decorrelates it into the "
    "aggregate+join the oracle states explicitly (SURVEY §4 rewrite "
    "inventory). The avg is an exact decimal-sum/count so the comparison "
    "boundary is bit-identical in both engines.",
)
def customers_above_nation_avg(spark, sf_dir):
    t(spark, sf_dir, "customer").createOrReplaceTempView("cust_cs")
    return spark.sql(
        """
        SELECT c_custkey, round(CAST(c_acctbal AS DOUBLE), 4) AS acctbal,
               round((SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / count(*)
                      FROM cust_cs c2 WHERE c2.c_nationkey = c.c_nationkey), 4) AS nation_avg
        FROM cust_cs c
        WHERE c_acctbal > (SELECT CAST(sum(CAST(c2.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / count(*)
                           FROM cust_cs c2 WHERE c2.c_nationkey = c.c_nationkey)
        """
    )


def udf_surface_demo(spark, sf_dir):
    """UDF/UDTF surface (reserved for what built-ins can't express, per
    SURVEY §2 D22): an Arrow-vectorized pandas_udf, a row Python UDF,
    and a Python UDTF (lateral table function), composed in one query.
    Formerly a rows-only registry entry; exercised in
    tests/test_edges.py (the point is the API surface — numerics live
    in built-in operators)."""
    from pyspark.sql.functions import pandas_udf, udf
    from pyspark.sql.functions import udtf

    # no inline type hints: `from __future__ import annotations` turns them
    # into strings, which pandas_udf's signature inspection rejects
    def _log1p_scaled(v):
        import numpy as np

        return np.log1p(v) * 2.0

    log1p_scaled = pandas_udf(_log1p_scaled, "double")

    def _reverse_str(s):
        return s[::-1] if s else s

    reverse_str = udf(_reverse_str, "string")

    @udtf(returnType="tok string, pos int")
    class Tokenize:
        def eval(self, text: str):
            for i, tok in enumerate((text or "").split()):
                yield tok, i

    spark.udtf.register("fps_tokenize", Tokenize)
    docs = t(spark, sf_dir, "documents").limit(50)
    docs.createOrReplaceTempView("udf_docs")
    toks = spark.sql(
        "SELECT d.doc_id, t.tok, t.pos FROM udf_docs d, LATERAL fps_tokenize(d.text) t"
    )
    ev = t(spark, sf_dir, "events").limit(100).select(
        "event_id", log1p_scaled(F.col("value")).alias("lv"), reverse_str(F.col("event_type")).alias("rtype")
    )
    return toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_toks")).join(
        ev.agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("lv"), 4).alias("sum_lv"),
            F.countDistinct("rtype").alias("n_rtypes"),
        )
    )
