"""Streaming-sketch operators (SURVEY.md §2 C1–C4).

Reference: `sketch/bloom/` and `sketch/tug/of/war/` build Bloom filters
and AMS (Tug-of-War) sketches as PS applications — workers hash elements,
servers hold the sketch shards [C-med]; time-aware variants window the
sketch by event time [C-low].

Spark-first: a sketch IS a groupBy — the reference's shard-by-hash
routing is the shuffle partitioner, and the server-side merge is the
aggregate. Explicit seeded-hash formulations are oracle-checkable;
Spark's built-ins (`df.stat.bloomFilter`, `approx_count_distinct`,
`hll_sketch_agg`, `count_min_sketch`) are the production path and are
registered rows-only (approximate answers differ engine-to-engine).

Scale: every sketch here is an algebraic aggregate — partial-aggregated
map-side, merged on a |keys| x |seeds|-sized shuffle independent of
input row count. That is exactly why sketches exist at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.hashing import int_hash, int_hash_sql, poly_hash, poly_hash_sql
from ..functions.text import tokens, tokens_sql
from ..plans.registry import register
from ..scratch import scratch
from ._util import overlap, t

BLOOM_M = 1024
BLOOM_SEEDS = (7, 991, 2027)
BLOOM_PROBE_WORDS = ("key", "table", "spark", "zzzz_not_a_word")
AMS_SEEDS = tuple(range(1, 9))  # 8 independent +/-1 hash families


# ---------------------------------------------------------------------------
# C1 — distributed Bloom filter (explicit, oracle-checkable)
# ---------------------------------------------------------------------------

def _bloom_bits_sql(tok_expr: str) -> str:
    return "[" + ", ".join(f"{poly_hash_sql(tok_expr, s)} % {BLOOM_M}" for s in BLOOM_SEEDS) + "]"


_PROBE_VALUES = ", ".join(f"('{w}')" for w in BLOOM_PROBE_WORDS)


_BLOOM_SQL = f"""
WITH toks AS (
  SELECT DISTINCT lang, unnest({tokens_sql('text')}) AS tok FROM documents
),
bits AS (
  SELECT DISTINCT lang, unnest({_bloom_bits_sql('tok')}) AS bit FROM toks
),
nbits AS (SELECT lang, count(*) AS n_bits_set FROM bits GROUP BY lang),
pbits AS (
  SELECT DISTINCT word, unnest({_bloom_bits_sql('word')}) AS bit
  FROM (VALUES {_PROBE_VALUES}) AS t(word)
),
need AS (SELECT word, count(*) AS n_need FROM pbits GROUP BY word),
hit AS (
  SELECT l.lang, p.word, count(*) AS n_hit
  FROM (SELECT DISTINCT lang FROM documents) l
  CROSS JOIN pbits p
  JOIN bits b ON b.lang = l.lang AND b.bit = p.bit
  GROUP BY l.lang, p.word
)
SELECT 'bloom' AS sketch, g.lang, g.word,
       CAST(CASE WHEN coalesce(h.n_hit, 0) = need.n_need THEN 1 ELSE 0 END AS BIGINT) AS estimate,
       nbits.n_bits_set AS check_value
FROM (SELECT lang, word FROM (SELECT DISTINCT lang FROM documents) CROSS JOIN need) g
JOIN need ON g.word = need.word
JOIN nbits ON nbits.lang = g.lang
LEFT JOIN hit h ON h.lang = g.lang AND h.word = g.word
"""


def _bloom_membership(spark, sf_dir, freq=None):
    docs = t(spark, sf_dir, "documents")
    if freq is None:
        freq = _lang_token_freq(spark, sf_dir)
    toks = freq.select("lang", "tok")

    def bloom_bits(col):
        return F.array(*[poly_hash(col, s) % BLOOM_M for s in BLOOM_SEEDS])

    bits = toks.select("lang", F.explode(bloom_bits(F.col("tok"))).alias("bit")).distinct()
    nbits = bits.groupBy("lang").agg(F.count(F.lit(1)).alias("n_bits_set"))
    pbits = (
        spark.createDataFrame([(w,) for w in BLOOM_PROBE_WORDS], ["word"])
        .select("word", F.explode(bloom_bits(F.col("word"))).alias("bit"))
        .distinct()
    )
    need = pbits.groupBy("word").agg(F.count(F.lit(1)).alias("n_need"))
    langs = docs.select("lang").distinct()
    hit = (
        langs.crossJoin(pbits)
        .join(bits, ["lang", "bit"])
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    grid = langs.crossJoin(need)
    return (
        grid.join(hit, ["lang", "word"], "left")
        .join(nbits, "lang")
        .select(
            F.lit("bloom").alias("sketch"),
            "lang",
            "word",
            F.when(F.coalesce(F.col("n_hit"), F.lit(0)) == F.col("n_need"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("estimate"),
            F.col("n_bits_set").alias("check_value"),
        )
    )


# ---------------------------------------------------------------------------
# C2 — Tug-of-War (AMS) second-moment sketch
# ---------------------------------------------------------------------------

def _ams_sign_sql(tok_expr: str, seed: int) -> str:
    return f"(CASE WHEN {poly_hash_sql(tok_expr, seed)} % 2 = 0 THEN 1 ELSE -1 END)"


def _ams_sign(col, seed: int):
    return F.when(poly_hash(col, seed) % 2 == 0, F.lit(1)).otherwise(F.lit(-1))


@register(
    "ams_sketches",
    oracle=f"""
WITH occ AS (SELECT lang, unnest({tokens_sql('text')}) AS tok FROM documents),
counters AS (
  SELECT lang,
         {', '.join(f'sum({_ams_sign_sql("tok", s)}) AS c{s}' for s in AMS_SEEDS)}
  FROM occ GROUP BY lang
),
exact AS (
  SELECT lang, CAST(sum(f * f) AS BIGINT) AS f2_exact
  FROM (SELECT lang, tok, count(*) AS f FROM occ GROUP BY lang, tok) GROUP BY lang
),
docc AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, user_id FROM events
),
dcounters AS (
  SELECT day,
         {', '.join(f'sum(CASE WHEN {int_hash_sql("user_id", j=0, seed=s)} % 2 = 0 THEN 1 ELSE -1 END) AS c{s}' for s in AMS_SEEDS)},
         count(*) AS n_events
  FROM docc GROUP BY day
)
SELECT 'lang_f2' AS sketch, counters.lang AS key,
       round(CAST(({' + '.join(f'c{s} * c{s}' for s in AMS_SEEDS)}) AS DOUBLE) / {len(AMS_SEEDS)}, 6) AS f2_estimate,
       exact.f2_exact AS f2_check
FROM counters JOIN exact ON counters.lang = exact.lang
UNION ALL
SELECT 'daily' AS sketch, day AS key,
       round(CAST(({' + '.join(f'c{s} * c{s}' for s in AMS_SEEDS)}) AS DOUBLE) / {len(AMS_SEEDS)}, 6) AS f2_estimate,
       n_events AS f2_check
FROM dcounters
""",
    tags=("C2", "C3"),
    doc="Tug-of-War / AMS sketches, global and time-aware, in one query "
    "discriminated by `sketch` (consolidated from ams_sketch_f2 / "
    "ams_sketch_daily). 'lang_f2': second moment per language over the "
    "word frequency vector (reference: sketch/tug/of/war [C-med]) — 8 "
    "seeded +/-1 counters, F2 ~= mean of squared counters, exact F2 "
    "alongside. 'daily': the time-aware variant [C-low] — AMS F2 of the "
    "per-day user-activity frequency vector on tumbling 1-day event-time "
    "windows (the streaming form adds withWatermark over the identical "
    "aggregate, streaming/windows.py); f2_check carries the window's "
    "event count. All-integer arithmetic -> bit-exact oracle.",
)
def ams_sketches(spark, sf_dir):
    # Aggregate occurrences to (lang, tok, f) FIRST, then evaluate the
    # interpreted char-fold hash once per DISTINCT (lang, token) and
    # weight its +/-1 sign by f: sum over occurrences of sign(tok) ==
    # sum over distinct toks of f * sign(tok). Cuts hash work from
    # O(occurrences x seeds) to O(|vocab| x seeds) and feeds both the
    # counters and the exact-F2 branch from the same persisted freq
    # relation (one scan, one shuffle).
    occ = (
        t(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)  # single-file scan: spread the explode
        .select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
    )
    freq = scratch(occ.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("f")))
    sq_mean = (
        sum(F.col(f"c{s}") * F.col(f"c{s}") for s in AMS_SEEDS).cast("double")
        / F.lit(len(AMS_SEEDS))
    )

    # serial: the lang_f2 and daily branches are independent, but
    # overlapping their plan constructions on driver threads ran 7 %
    # faster at 4 cores (tools/ab.py warm rep, sf0.1, 10 pairs), under
    # the 10 % an overlap must earn
    def _lang_part():
        counters = freq.groupBy("lang").agg(
            *[F.sum(F.col("f") * _ams_sign(F.col("tok"), s)).alias(f"c{s}") for s in AMS_SEEDS]
        )
        est = counters.select("lang", F.round(sq_mean, 6).alias("f2_estimate"))
        exact = freq.groupBy("lang").agg(F.sum(F.col("f") * F.col("f")).alias("f2_exact"))
        return est.join(exact, "lang").select(
            F.lit("lang_f2").alias("sketch"),
            F.col("lang").alias("key"),
            "f2_estimate",
            F.col("f2_exact").alias("f2_check"),
        )

    def _daily_part():
        # time-aware variant: AMS per tumbling 1-day event-time window
        ev = t(spark, sf_dir, "events").select(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"), "user_id"
        )
        dcounters = ev.groupBy("day").agg(
            *[
                F.sum(
                    F.when(int_hash(F.col("user_id"), j=0, seed=s) % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
                ).alias(f"c{s}")
                for s in AMS_SEEDS
            ],
            F.count(F.lit(1)).alias("n_events"),
        )
        return dcounters.select(
            F.lit("daily").alias("sketch"),
            F.col("day").alias("key"),
            F.round(sq_mean, 6).alias("f2_estimate"),
            F.col("n_events").alias("f2_check"),
        )

    return _lang_part().unionByName(_daily_part())


# ---------------------------------------------------------------------------
# Count-Min sketch (explicit, oracle-checkable) — completes the sketch
# family next to bloom (membership) and AMS (moments): point-frequency
# estimates with one-sided error.
# ---------------------------------------------------------------------------

CMS_W = 256
CMS_SEEDS = (3, 5, 11, 17)
CMS_PROBE_WORDS = ("key", "table", "spark", "zzzz_not_a_word")
# Heavy-hitters threshold denominator (r12): a token is emitted as
# heavy when its CMS estimate clears ceil(N_lang / CMS_HH_PHI) — the
# classic phi-heavy-hitters rule (Cormode & Muthukrishnan 2005 §4.2).
CMS_HH_PHI = 128


_CMS_SQL = f"""
WITH occ AS (SELECT lang, unnest({tokens_sql('text')}) AS tok FROM documents),
cells AS (
  SELECT lang, s.seed,
         CASE s.seed {' '.join(f"WHEN {sd} THEN {poly_hash_sql('tok', sd)} % {CMS_W}" for sd in CMS_SEEDS)} END AS col,
         count(*) AS c
  FROM occ CROSS JOIN (SELECT unnest({list(CMS_SEEDS)}) AS seed) s
  GROUP BY 1, 2, 3
),
probes AS (
  SELECT w.word, s.seed,
         CASE s.seed {' '.join(f"WHEN {sd} THEN {poly_hash_sql('w.word', sd)} % {CMS_W}" for sd in CMS_SEEDS)} END AS col
  FROM (VALUES {', '.join(f"('{w}')" for w in CMS_PROBE_WORDS)}) AS w(word)
  CROSS JOIN (SELECT unnest({list(CMS_SEEDS)}) AS seed) s
),
est AS (
  SELECT l.lang, p.word, min(coalesce(c.c, 0)) AS cms_estimate
  FROM (SELECT DISTINCT lang FROM documents) l
  CROSS JOIN probes p
  LEFT JOIN cells c ON c.lang = l.lang AND c.seed = p.seed AND c.col = p.col
  GROUP BY l.lang, p.word
),
exact AS (
  SELECT l.lang, w.word, count(o.tok) AS exact_count
  FROM (SELECT DISTINCT lang FROM documents) l
  CROSS JOIN (VALUES {', '.join(f"('{w}')" for w in CMS_PROBE_WORDS)}) AS w(word)
  LEFT JOIN occ o ON o.lang = l.lang AND o.tok = w.word
  GROUP BY l.lang, w.word
)
SELECT 'cms' AS sketch, est.lang, est.word, CAST(est.cms_estimate AS BIGINT) AS estimate,
       exact.exact_count AS check_value
FROM est JOIN exact ON est.lang = exact.lang AND est.word = exact.word
"""


_CMS_HEAVY_SQL = f"""
WITH occ AS (SELECT lang, unnest({tokens_sql('text')}) AS tok FROM documents),
hfreq AS (SELECT lang, tok, count(*) AS f FROM occ GROUP BY 1, 2),
hcells AS (
  SELECT lang, s.seed,
         CASE s.seed {' '.join(f"WHEN {sd} THEN {poly_hash_sql('tok', sd)} % {CMS_W}" for sd in CMS_SEEDS)} END AS col,
         sum(f) AS c
  FROM hfreq CROSS JOIN (SELECT unnest({list(CMS_SEEDS)}) AS seed) s
  GROUP BY 1, 2, 3
),
htot AS (SELECT lang, sum(f) AS ntok FROM hfreq GROUP BY lang),
hest AS (
  SELECT f.lang, f.tok, f.f, min(coalesce(c.c, 0)) AS est
  FROM hfreq f
  CROSS JOIN (SELECT unnest({list(CMS_SEEDS)}) AS seed) s
  LEFT JOIN hcells c ON c.lang = f.lang AND c.seed = s.seed
    AND c.col = CASE s.seed {' '.join(f"WHEN {sd} THEN {poly_hash_sql('f.tok', sd)} % {CMS_W}" for sd in CMS_SEEDS)} END
  GROUP BY 1, 2, 3
)
SELECT 'cms_heavy' AS sketch, e.lang, e.tok AS word,
       CAST(e.est AS BIGINT) AS estimate, CAST(e.f AS BIGINT) AS check_value
FROM hest e JOIN htot t ON t.lang = e.lang
WHERE e.est >= (t.ntok + {CMS_HH_PHI - 1}) // {CMS_HH_PHI}
"""


@register(
    "sketch_point_queries",
    oracle=f"""
SELECT * FROM ({_BLOOM_SQL}) AS bloom_part
UNION ALL
SELECT * FROM ({_CMS_SQL}) AS cms_part
UNION ALL
SELECT * FROM ({_CMS_HEAVY_SQL}) AS cms_heavy_part
""",
    tags=("C1", "C4"),
    doc="Point-query sketches — Bloom membership and Count-Min frequency "
    "— in one query discriminated by `sketch` (consolidated from "
    "bloom_filter_membership / count_min_frequency; both probe the same "
    "per-language token sketches with the same word set). 'bloom': k=3 "
    "seeded hashes over m=1024 bits (reference: sketch/bloom [C-med]); "
    "build = distinct bit-set aggregate, probe = hash-join on bits; "
    "estimate = maybe_present, check_value = bits set. 'cms': 4 seeded "
    "hash rows x 256 counter columns; estimate = min over rows of the "
    "probed cell (one-sided overestimate), check_value = exact count. "
    "'cms_heavy' (r12): phi-heavy-hitters over the same sketch "
    "(Cormode & Muthukrishnan 2005) — every distinct token whose CMS "
    "estimate clears ceil(N_lang/128); one-sided error means truly "
    "heavy tokens are NEVER missed while near-threshold collisions "
    "emit as visible false positives (check_value = exact count), all "
    "integer math so the property itself is hash-checked. "
    "Production built-ins (df.stat.bloomFilter, count_min_sketch, HLL) "
    "are exercised in tests/test_sketches.py. All-integer -> bit-exact "
    "oracle.",
)
def sketch_point_queries(spark, sf_dir):
    # guide §2.6: the three sketch branches share the persisted freq
    # relation; their plan constructions overlap on driver threads.
    # 4 cores, sf0.1 (tools/ab.py warm rep, 10 pairs): serial 3.65 s -> 2.92 s.
    freq = _lang_token_freq(spark, sf_dir)
    bloom, cms, heavy = overlap(
        spark,
        lambda: _bloom_membership(spark, sf_dir, freq=freq),
        lambda: _cms_frequency(spark, sf_dir, freq=freq),
        lambda: _cms_heavy(spark, sf_dir, freq=freq),
    )
    return bloom.unionByName(cms).unionByName(heavy)


def _lang_token_freq(spark, sf_dir):
    """Persisted (lang, tok, f) — the shared per-language token-frequency
    relation both point-query sketches build on (one scan + one shuffle
    instead of two each)."""
    occ = (
        t(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)  # single-file scan: spread the explode
        .select("lang", F.explode(tokens(F.col("text"))).alias("tok"))
    )
    return scratch(occ.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("f")))


def _cms_rows(df, word: str, *keep: str):
    """``keep`` plus (seed, col) for each CMS hash row: the counter
    column that ``word`` hashes to in that row."""
    sc = F.explode(
        F.array(
            *[
                F.struct(F.lit(sd).alias("seed"), (poly_hash(F.col(word), sd) % CMS_W).alias("col"))
                for sd in CMS_SEEDS
            ]
        )
    ).alias("sc")
    return df.select(*keep, sc).select(*keep, "sc.seed", "sc.col")


def _cms_cells(freq):
    """The Count-Min counter table (lang, seed, col, c): each token's
    count summed into its cell of every hash row."""
    return _cms_rows(freq, "tok", "lang", "f").groupBy("lang", "seed", "col").agg(F.sum("f").alias("c"))


def _cms_heavy(spark, sf_dir, freq=None):
    """phi-heavy-hitters over the CMS (r12, sketch='cms_heavy'): every
    distinct token whose CMS estimate clears ceil(N_lang / CMS_HH_PHI).
    Batch-side this probes ALL distinct tokens against the sketch (the
    verification form of the streaming heap — at real scale the heap
    rides in the same stateful op that maintains the counters);
    one-sided error means a truly heavy token is NEVER missed, while
    near-threshold hash collisions emit as false positives with their
    exact count in check_value — the CMS guarantee made visible (and
    hash-checked) in the output. Shapes: the shared (lang, tok, f)
    build + one bounded cells agg (<= langs x 4 x 256 rows, broadcast
    equi-join) + one (lang, tok) re-agg — two shuffles on the same key
    class at any scale."""
    if freq is None:
        freq = _lang_token_freq(spark, sf_dir)
    est = (
        _cms_rows(freq, "tok", "lang", "tok", "f")
        .join(_cms_cells(freq), ["lang", "seed", "col"], "left")
        .groupBy("lang", "tok", "f")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est"))
    )
    tot = freq.groupBy("lang").agg(F.sum("f").alias("ntok"))
    return (
        est.join(tot, "lang")
        .where(F.col("est") >= F.expr(f"(ntok + {CMS_HH_PHI - 1}) div {CMS_HH_PHI}"))
        .select(
            F.lit("cms_heavy").alias("sketch"),
            "lang",
            F.col("tok").alias("word"),
            F.col("est").cast("long").alias("estimate"),
            F.col("f").cast("long").alias("check_value"),
        )
    )


def _cms_frequency(spark, sf_dir, freq=None):
    # Same restructure as ams_sketches: pre-aggregate to (lang, tok, f)
    # so the 4 char-fold row hashes run once per DISTINCT token, with
    # cell counts as sum(f) instead of count(occurrences).
    docs = t(spark, sf_dir, "documents")
    if freq is None:
        freq = _lang_token_freq(spark, sf_dir)
    words = spark.createDataFrame([(w,) for w in CMS_PROBE_WORDS], ["word"])
    langs = docs.select("lang").distinct()
    est = (
        langs.crossJoin(_cms_rows(words, "word", "word"))
        .join(_cms_cells(freq), ["lang", "seed", "col"], "left")
        .groupBy("lang", "word")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_estimate"))
    )
    exact = (
        langs.crossJoin(words)
        .join(freq.withColumnRenamed("tok", "word"), ["lang", "word"], "left")
        .select("lang", "word", F.coalesce("f", F.lit(0)).alias("exact_count"))
    )
    return est.join(exact, ["lang", "word"]).select(
        F.lit("cms").alias("sketch"),
        "lang",
        "word",
        F.col("cms_estimate").cast("long").alias("estimate"),
        F.col("exact_count").alias("check_value"),
    )


def sketch_builtins(spark, sf_dir):
    """Production sketch surface (formerly a rows-only registry entry, now
    exercised in tests/test_sketches.py): approx_count_distinct (HLL++),
    hll_sketch_agg/hll_sketch_estimate (Datasketches HLL),
    approx_percentile, plus exact counterparts. Approximate results are
    engine-specific, so a DuckDB oracle could only disagree."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id))").cast("long").alias("hll_users"),
        F.expr("approx_percentile(value, 0.5)").alias("p50_value"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50_exact"),
    )
