"""Relational substrate operators (SURVEY.md §2 D1–D16).

The reference has no relational layer (Flink DataStream is its substrate
— `FlinkParameterServer.scala` [C-high]); Spark SQL is ours. Every query
here is pure DataFrame API — scans with pushed filters, broadcast joins
for dims, hash aggregation with map-side combine, window functions — so
Catalyst/AQE owns the physical plan and the same code runs unchanged on a
1000-executor cluster. Scale notes are per-query docstrings.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..plans.registry import register
from ..scratch import scratch
from ._util import dround, exact_sum, mean_of, money_sum, t


# ---------------------------------------------------------------------------
# D1/D3/D9 — scan, predicate pushdown, hash aggregation
# ---------------------------------------------------------------------------

@register(
    "pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 4)       AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 4)  AS sum_base_price,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_disc_price,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_charge,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avg_qty,
       round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    tags=("D1", "D3", "D9"),
)
def pricing_summary(spark, sf_dir):
    """TPC-H Q1-style pricing summary: full-scan hash aggregation.

    Scale: map-side partial agg means the shuffle carries only
    |returnflag| x |linestatus| rows per task regardless of input size;
    the shipdate predicate pushes into the parquet scan.
    """
    li = t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dround(exact_sum(F.col("l_quantity")), 4).alias("sum_qty"),
        dround(exact_sum(F.col("l_extendedprice")), 4).alias("sum_base_price"),
        dround(exact_sum(disc_price), 4).alias("sum_disc_price"),
        dround(exact_sum(charge), 4).alias("sum_charge"),
        mean_of(exact_sum(F.col("l_quantity")), F.count(F.lit(1))).alias("avg_qty"),
        mean_of(exact_sum(F.col("l_discount")), F.count(F.lit(1))).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "revenue_forecast",
    oracle="""
SELECT round(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE), 4) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
""",
    tags=("D1", "D3"),
)
def revenue_forecast(spark, sf_dir):
    """TPC-H Q6-style selective scan: every predicate pushes to parquet
    (row-group pruning on shipdate at scale); single-row result."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(money_sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# D4/D13 — shuffled joins + top-k
# ---------------------------------------------------------------------------

@register(
    "top_unshipped_orders",
    oracle="""
WITH rev AS (
  SELECT l_orderkey, o_orderdate, o_orderpriority,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS r
  FROM customer JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
  GROUP BY l_orderkey, o_orderdate, o_orderpriority
)
SELECT l_orderkey, round(CAST(r AS DOUBLE), 4) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
FROM rev ORDER BY r DESC, l_orderkey LIMIT 10
""",
    tags=("D4", "D13"),
)
def top_unshipped_orders(spark, sf_dir):
    """TPC-H Q3-style: two shuffled equi-joins + agg + deterministic top-k.

    Scale: customer filter first (smallest effective side), join keys are
    uniform (orderkey) so no skew; top-10 is a TakeOrdered, no full sort.
    """
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    rev = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("r"))
    )
    return (
        rev.orderBy(F.col("r").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            dround(F.col("r"), 4).alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
    )


@register(
    "revenue_by_nation",
    oracle="""
SELECT 'by_nation' AS part, CAST(NULL AS VARCHAR) AS r_name, n_name,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 4) AS revenue,
       CAST(NULL AS BIGINT) AS n_suppliers
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
UNION ALL
SELECT 'rollup' AS part, r_name, n_name,
       round(CAST(sum(CAST(s_acctbal AS DECIMAL(18,6))) AS DOUBLE), 4) AS revenue,
       count(*) AS n_suppliers
FROM supplier JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
    tags=("D4", "D5", "D11"),
)
def revenue_by_nation(spark, sf_dir):
    """TPC-H Q5-style star join plus the geography ROLLUP, discriminated
    by `part` (revenue_rollup folded in, registry consolidation r3).

    'by_nation': fact tables shuffle-join on orderkey; supplier/nation/
    region are explicitly broadcast (D5) so the big side never shuffles
    for them. At 100 TB the same hints hold (dims are KBs).
    'rollup': ROLLUP over the region -> nation -> total hierarchy on the
    same broadcast dimension join (revenue = account-balance total).
    """
    # serial: the star join and the rollup are independent branches,
    # but overlapping them on driver threads ran no faster at 4 cores
    # (tools/ab.py warm rep, sf0.1, 5 pairs), under the 10 % an overlap
    # must earn
    def _rollup_part():
        return (
            t(spark, sf_dir, "supplier")
            .join(F.broadcast(t(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
            .join(F.broadcast(t(spark, sf_dir, "region")), F.col("n_regionkey") == F.col("r_regionkey"))
            .rollup("r_name", "n_name")
            .agg(money_sum(F.col("s_acctbal")).alias("revenue"), F.count(F.lit(1)).alias("n_suppliers"))
            .select(F.lit("rollup").alias("part"), "r_name", "n_name", "revenue", "n_suppliers")
        )

    def _by_nation():
        cust = t(spark, sf_dir, "customer")
        orders = t(spark, sf_dir, "orders").where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        li = t(spark, sf_dir, "lineitem")
        supp = F.broadcast(t(spark, sf_dir, "supplier"))
        nation = F.broadcast(t(spark, sf_dir, "nation"))
        region = F.broadcast(t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA"))
        return (
            cust.join(orders, cust.c_custkey == orders.o_custkey)
            .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
            .join(supp, (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")))
            .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
            .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
            .groupBy("n_name")
            .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
            .select(
                F.lit("by_nation").alias("part"),
                F.lit(None).cast("string").alias("r_name"),
                "n_name",
                "revenue",
                F.lit(None).cast("long").alias("n_suppliers"),
            )
        )

    return _by_nation().unionByName(_rollup_part())


# ---------------------------------------------------------------------------
# D6 — semi / anti joins
# ---------------------------------------------------------------------------

@register(
    "customer_order_activity",
    oracle="""
SELECT c_custkey, 'active' AS status FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
UNION ALL
SELECT c_custkey, 'dormant' AS status FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
    tags=("D6",),
)
def customer_order_activity(spark, sf_dir):
    """Left-semi + left-anti joins (EXISTS / NOT EXISTS duals).

    Scale: both are one shuffle on custkey; semi/anti short-circuit on the
    build side so no row multiplication ever happens.
    """
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    pending = orders.where(F.col("o_orderstatus") == "P")
    active = cust.join(pending, cust.c_custkey == pending.o_custkey, "left_semi").select(
        "c_custkey", F.lit("active").alias("status")
    )
    dormant = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", F.lit("dormant").alias("status")
    )
    return active.unionByName(dormant)


# ---------------------------------------------------------------------------
# D7 — non-equi (range) join against a tiny broadcast dim
# ---------------------------------------------------------------------------

_TIERS = [("low", 0.0, 5.0), ("mid", 5.0, 15.0), ("high", 15.0, 1e18)]


@register(
    "event_value_tiers",
    oracle="""
SELECT tier, count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
FROM events
JOIN (VALUES ('low', 0.0, 5.0), ('mid', 5.0, 15.0), ('high', 15.0, 1e18)) AS tiers(tier, lo, hi)
  ON value >= lo AND value < hi
GROUP BY tier
""",
    tags=("D7",),
)
def event_value_tiers(spark, sf_dir):
    """Theta/range join: BroadcastNestedLoopJoin against a 3-row dim.

    Scale: the only sane physical plan for a non-equi join is broadcasting
    the tiny side — which Spark picks because we broadcast() it; the fact
    side streams through unshuffled.
    """
    ev = t(spark, sf_dir, "events")
    tiers = F.broadcast(spark.createDataFrame(_TIERS, ["tier", "lo", "hi"]))
    return (
        ev.join(tiers, (ev.value >= tiers.lo) & (ev.value < tiers.hi))
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"), money_sum(F.col("value")).alias("total_value"))
    )


# ---------------------------------------------------------------------------
# D11 — rollup / cube
# ---------------------------------------------------------------------------

# revenue_rollup was folded into revenue_by_nation (part='rollup') —
# same broadcast dimension join, one query covers D5 and the D11 rollup
# (registry consolidation, r3).


# orders_cube was folded into orders_grouping_sets (relational2.py,
# gset='cube') — one grouping-sets-family query covers CUBE and explicit
# GROUPING SETS (registry consolidation, r3).


# ---------------------------------------------------------------------------
# D12 — window functions
# ---------------------------------------------------------------------------

CUSTOMER_TIMELINE_SQL = """
SELECT o_orderkey,
       row_number()   OVER w AS rn,
       round(CAST(lag(o_totalprice)  OVER w AS DOUBLE), 4) AS prev_price,
       round(CAST(lead(o_totalprice) OVER w AS DOUBLE), 4) AS next_price,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING) AS DOUBLE), 4) AS running_total,
       ntile(4) OVER w AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


def customer_order_timeline(spark, sf_dir):
    """Ranking + analytic + framed-aggregate window functions per customer.

    Scale: one shuffle on o_custkey serves all five functions (same window
    spec); ordering includes o_orderkey so ties are deterministic.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        dround(F.lag("o_totalprice").over(w), 4).alias("prev_price"),
        dround(F.lead("o_totalprice").over(w), 4).alias("next_price"),
        dround(exact_sum(F.col("o_totalprice")).over(wf), 4).alias("running_total"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "top_parts_per_brand",
    oracle="""
SELECT p_brand, p_partkey, round(CAST(p_retailprice AS DOUBLE), 4) AS price, rk
FROM (SELECT p_brand, p_partkey, p_retailprice,
             row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rk
      FROM part)
WHERE rk <= 3
""",
    tags=("D12", "D13"),
)
def top_parts_per_brand(spark, sf_dir):
    """Top-k per group via row_number (deterministic tie-break on key)."""
    from pyspark.sql import Window

    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
    return (
        t(spark, sf_dir, "part")
        .select("p_brand", "p_partkey", "p_retailprice", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", dround(F.col("p_retailprice"), 4).alias("price"), "rk")
    )


# ---------------------------------------------------------------------------
# D14 — set operations
# ---------------------------------------------------------------------------

@register(
    "customer_cohort_sets",
    oracle="""
WITH c95 AS (SELECT DISTINCT o_custkey FROM orders
             WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'),
     c96 AS (SELECT DISTINCT o_custkey FROM orders
             WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01')
SELECT (SELECT count(*) FROM (SELECT * FROM c95 INTERSECT SELECT * FROM c96)) AS n_both,
       (SELECT count(*) FROM (SELECT * FROM c95 EXCEPT SELECT * FROM c96))    AS n_95_only,
       (SELECT count(*) FROM (SELECT * FROM c95 UNION SELECT * FROM c96))     AS n_union
""",
    tags=("D10", "D14"),
)
def customer_cohort_sets(spark, sf_dir):
    """INTERSECT / EXCEPT / UNION-distinct cohort arithmetic as ONE lazy
    DataFrame program: the three set-op branches are tagged, unioned, and
    counted in a single conditional aggregation — one job, no driver-side
    .count() actions, so the query composes lazily like everything else.
    Cohorts are persisted because each feeds all three branches."""
    o = t(spark, sf_dir, "orders")

    def cohort(year: int):
        return scratch(
            o.where(
                (F.col("o_orderdate") >= F.lit(f"{year}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{year + 1}-01-01").cast("timestamp"))
            ).select("o_custkey").distinct()
        )

    c95, c96 = cohort(1995), cohort(1996)
    tagged = (
        c95.intersect(c96).select(F.lit("both").alias("tag"))
        .unionAll(c95.exceptAll(c96).select(F.lit("only95").alias("tag")))
        .unionAll(c95.union(c96).distinct().select(F.lit("union").alias("tag")))
    )
    return tagged.agg(
        F.count(F.when(F.col("tag") == "both", 1)).alias("n_both"),
        F.count(F.when(F.col("tag") == "only95", 1)).alias("n_95_only"),
        F.count(F.when(F.col("tag") == "union", 1)).alias("n_union"),
    )


# ---------------------------------------------------------------------------
# D15 — scalar string / date functions
# ---------------------------------------------------------------------------

@register(
    "part_string_functions",
    oracle="""
SELECT p_partkey,
       upper(p_name)                       AS name_upper,
       substr(p_type, 1, 5)                AS type_prefix,
       CAST(length(p_name) AS BIGINT)      AS name_len,
       concat(p_brand, '#', p_type)        AS brand_type,
       CAST(levenshtein(p_brand, substr(p_type, 1, 5)) AS BIGINT) AS lev,
       regexp_extract(p_name, '[0-9]+')    AS name_digits
FROM part WHERE p_size <= 10
""",
    tags=("D15",),
)
def part_string_functions(spark, sf_dir):
    """String scalar-function surface (upper/substr/length/concat/
    levenshtein/regexp_extract) — all JVM built-ins, codegen-fused."""
    p = t(spark, sf_dir, "part").where(F.col("p_size") <= 10)
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
        F.levenshtein(F.col("p_brand"), F.substring("p_type", 1, 5)).cast("long").alias("lev"),
        F.regexp_extract("p_name", "[0-9]+", 0).alias("name_digits"),
    )


@register(
    "order_date_functions",
    oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS BIGINT)    AS yr,
       CAST(month(o_orderdate) AS BIGINT)   AS mth,
       CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_95,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start
FROM orders WHERE o_orderkey % 100 = 0
""",
    tags=("D15",),
)
def order_date_functions(spark, sf_dir):
    """Date scalar-function surface (year/month/quarter/datediff/trunc)."""
    o = t(spark, sf_dir, "orders").where(F.col("o_orderkey") % 100 == 0)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("yr"),
        F.month("o_orderdate").cast("long").alias("mth"),
        F.quarter("o_orderdate").cast("long").alias("qtr"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).cast("long").alias("days_since_95"),
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias("month_start"),
    )


# ---------------------------------------------------------------------------
# D16 — JSON extraction
# ---------------------------------------------------------------------------

@register(
    "event_props_json",
    oracle="""
SELECT 'string_path' AS extractor, event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       CAST(count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_distinct_k
FROM events GROUP BY event_type
UNION ALL
SELECT 'variant' AS extractor, event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       CAST(count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_distinct_k
FROM events GROUP BY event_type
""",
    tags=("D10", "D16"),
)
def event_props_json(spark, sf_dir):
    """JSON field extraction + count-distinct aggregation over it, via
    BOTH extraction surfaces discriminated by `extractor` (r3).
    'string_path': classic get_json_object (string re-parse per access).
    'variant': Spark 4's VARIANT type — parse_json once into the binary
    variant encoding, then variant_get typed paths; at 100 TB this is
    the production shape (parse once, store the variant column, cheap
    typed access thereafter — Parquet can persist it). Both extractors
    must agree with the same DuckDB oracle, proving the variant path
    round-trips values exactly."""
    ev = t(spark, sf_dir, "events")

    def agg_by(k):
        return ev.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(k).alias("sum_k"),
            F.min(k).alias("min_k"),
            F.max(k).alias("max_k"),
            F.countDistinct(k).alias("n_distinct_k"),
        )

    string_path = agg_by(F.get_json_object("props", "$.k").cast("long")).select(
        F.lit("string_path").alias("extractor"), "*"
    )
    variant = agg_by(
        F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    ).select(F.lit("variant").alias("extractor"), "*")
    return string_path.unionByName(variant)
