"""ML-pipeline data-prep operators (LLM-data-pipeline surface):
deterministic stratified train/valid/test split and embedding
L2-normalization + symmetric int8 quantization.

Both are single-pass built-in-function programs — the split is one
window over (stratum, pseudo-random order), the quantizer is pure
per-row array math — so they stay in whole-stage codegen and scale
linearly: no shuffle at all for the quantizer, one window shuffle on
the stratum key for the split.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.hashing import MOD, int_hash, int_hash_sql
from ..functions.text import tokens, tokens_sql
from ..functions.vectors import as_double, norm2, norm2_sql
from ..plans.registry import register
from ._util import t

SPLIT_SEED = 77
N_TILES = 10  # 8/1/1 -> train/valid/test
Q_BITS = 127.0
PACK_SHARDS = 8  # at 100 TB set ~= cluster parallelism
PACK_BUDGET = 256  # whitespace tokens per training pack
MIX_GRID = 1 << 20  # integer grid for sqrt(n_g) so the group sum is exact
MIX_MAX_COPIES = 4  # upsampling cap (guards tiny-group blowup)
DSIR_KEEP_DIV = 5  # dsir_selected keeps the top 1/5 of weighted docs
DSIR_GUMBEL_TAU = 0.5  # dsir_gumbel sampling temperature (>0)
GUMBEL_J = 7  # hash stream for the per-doc Gumbel uniform


def _split_oracle() -> str:
    from ..functions.planes import SEMANTIC_PAIRS_SQL
    from ._dedup_core import _MINHASH_SQL
    from .curate import curate_oracle_sql

    plain = f"""
SELECT 'split_all' AS part, doc_id, lang, source,
       CASE WHEN tile <= 8 THEN 'train'
            WHEN tile = 9 THEN 'valid'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, lang, source,
         ntile({N_TILES}) OVER (
           PARTITION BY lang, source
           ORDER BY {int_hash_sql('doc_id', 0, 77)}, doc_id) AS tile
  FROM documents
) t
"""
    from ._gopher_core import GOPHER_FIXTURE_RULES

    curated = curate_oracle_sql(
        _MINHASH_SQL,
        int_hash_sql("doc_id", 0, 77),
        SEMANTIC_PAIRS_SQL,
        # r13: the Gopher Table A1 gate on the flagship (fixture rule
        # set — see GOPHER_FIXTURE_RULES for why 'stopwords' is off)
        quality_rules=GOPHER_FIXTURE_RULES,
    )
    packed = f"""
SELECT 'packed' AS part, doc_id, lang, source,
       'pack_' || CAST(shard AS VARCHAR) || '_'
               || CAST(CAST(floor((cum - tok) / {PACK_BUDGET}) AS BIGINT) AS VARCHAR) AS split
FROM (
  SELECT doc_id, lang, source, tok, shard,
         sum(tok) OVER (PARTITION BY shard
                        ORDER BY hk NULLS FIRST, doc_id NULLS FIRST
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM (
    SELECT doc_id, lang, source,
           COALESCE(len({tokens_sql('text')}), 0) AS tok,
           {int_hash_sql('doc_id', 4, SPLIT_SEED)} AS hk,
           ({int_hash_sql('doc_id', 4, SPLIT_SEED)}) % {PACK_SHARDS} AS shard
    FROM documents) raw) packed_win
"""
    mixture = f"""
WITH cnts AS (
  SELECT lang AS g_lang, count(*) AS n_g,
         CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * {MIX_GRID}) AS BIGINT) AS s_g,
         sum(count(*)) OVER () AS n_tot,
         sum(CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * {MIX_GRID}) AS BIGINT)) OVER () AS s_tot
  FROM documents GROUP BY lang
),
rated AS (
  SELECT d.doc_id, d.lang, d.source,
         (CAST(c.n_tot AS DOUBLE) * CAST(c.s_g AS DOUBLE))
           / (CAST(c.n_g AS DOUBLE) * CAST(c.s_tot AS DOUBLE)) AS r,
         {int_hash_sql('d.doc_id', 3, SPLIT_SEED)} AS h
  FROM documents d JOIN cnts c ON d.lang IS NOT DISTINCT FROM c.g_lang
),
cop AS (
  SELECT doc_id, lang, source,
         least(CAST(floor(r) AS BIGINT)
               + CASE WHEN h < CAST(floor((r - floor(r)) * {MOD}) AS BIGINT)
                      THEN 1 ELSE 0 END,
               {MIX_MAX_COPIES}) AS copies
  FROM rated
)
SELECT 'mixture' AS part, doc_id, lang, source,
       'mix' || CAST(ci AS VARCHAR) AS split
FROM cop, unnest(generate_series(1, CAST(copies AS BIGINT))) AS u(ci)
WHERE copies >= 1
"""
    from ._dsir_core import DSIR_SQL_CTES

    dsir_sel = f"""
WITH {DSIR_SQL_CTES},
ranked AS (
  SELECT doc_id, row_number() OVER (ORDER BY smic DESC, doc_id) AS rk,
         count(*) OVER () AS nw
  FROM fmic
)
SELECT 'dsir_selected' AS part, d.doc_id, d.lang, d.source,
       CASE WHEN r.doc_id IS NULL THEN 'unweighted'
            WHEN r.rk <= r.nw // {DSIR_KEEP_DIV} THEN 'selected'
            ELSE 'rest' END AS split
FROM documents d LEFT JOIN ranked r ON d.doc_id = r.doc_id
"""
    gumbel = f"""
WITH {DSIR_SQL_CTES},
gum AS (
  SELECT doc_id,
         CAST(CAST(round(
             CAST(smic AS DOUBLE) / 1000000.0 / {DSIR_GUMBEL_TAU}
             + (-ln(-ln(({int_hash_sql('doc_id', GUMBEL_J, SPLIT_SEED)} + 0.5) / {MOD}))),
           6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS kmic
  FROM fmic
),
granked AS (
  SELECT doc_id, row_number() OVER (ORDER BY kmic DESC, doc_id) AS rk,
         count(*) OVER () AS nw
  FROM gum
)
SELECT 'dsir_gumbel' AS part, d.doc_id, d.lang, d.source,
       CASE WHEN r.doc_id IS NULL THEN 'unweighted'
            WHEN r.rk <= r.nw // {DSIR_KEEP_DIV} THEN 'selected'
            ELSE 'rest' END AS split
FROM documents d LEFT JOIN granked r ON d.doc_id = r.doc_id
"""
    domain = f"""
WITH {DSIR_SQL_CTES},
dw AS (
  SELECT d.doc_id, d.lang, d.source,
         coalesce(f.ntok, 0) AS nt, coalesce(f.smic, 0) AS sm
  FROM documents d LEFT JOIN fmic f ON d.doc_id = f.doc_id
),
dom0 AS (
  SELECT source, CAST(sum(nt) AS BIGINT) AS t_s, CAST(sum(sm) AS BIGINT) AS m_s
  FROM dw GROUP BY source
),
dom1 AS (SELECT source, t_s, m_s, sum(t_s) OVER () AS t_tot FROM dom0),
dom2 AS (
  SELECT source, t_s, t_tot,
         CASE WHEN t_s = 0 OR t_tot = 0 THEN CAST(0 AS BIGINT)
              ELSE CAST(CAST(round(
                     (CAST(t_s AS DOUBLE) / CAST(t_tot AS DOUBLE))
                     * exp((CAST(m_s AS DOUBLE) / 1000000.0) / CAST(t_s AS DOUBLE)),
                   6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) END AS rawmic
  FROM dom1
),
dom3 AS (SELECT source, t_s, t_tot, rawmic, sum(rawmic) OVER () AS s_tot FROM dom2),
domr AS (
  SELECT source,
         CASE WHEN t_s = 0 OR s_tot = 0 THEN 0.0
              ELSE (CAST(rawmic AS DOUBLE) * CAST(t_tot AS DOUBLE))
                   / (CAST(s_tot AS DOUBLE) * CAST(t_s AS DOUBLE)) END AS r
  FROM dom3
),
domc AS (
  SELECT dw.doc_id, dw.lang, dw.source,
         least(CAST(floor(r) AS BIGINT)
               + CASE WHEN {int_hash_sql('dw.doc_id', 5, SPLIT_SEED)}
                           < CAST(floor((r - floor(r)) * {MOD}) AS BIGINT)
                      THEN 1 ELSE 0 END,
               {MIX_MAX_COPIES}) AS copies
  FROM dw JOIN domr ON dw.source IS NOT DISTINCT FROM domr.source
)
SELECT 'domain_reweight' AS part, doc_id, lang, source,
       'mix' || CAST(ci AS VARCHAR) AS split
FROM domc, unnest(generate_series(1, CAST(copies AS BIGINT))) AS u(ci)
WHERE copies >= 1
UNION ALL
SELECT 'domain_reweight' AS part, doc_id, lang, source, 'dropped' AS split
FROM domc WHERE copies = 0
"""
    from ..functions.planes import IVF_CENT_SQL
    from ..functions.vectors import cosine_sql

    cluster = f"""
WITH cent AS {IVF_CENT_SQL},
assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cosine_sql('e.embedding', 'c.cv')} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
cells AS (SELECT cid, count(*) AS n_c FROM assign GROUP BY cid),
caps AS (
  SELECT cid,
         (sum(n_c) OVER () + count(*) OVER () - 1) // count(*) OVER () AS cap
  FROM cells
),
crk AS (
  SELECT a.vec_id, a.cid,
         row_number() OVER (PARTITION BY a.cid
                            ORDER BY {int_hash_sql('a.vec_id', 6, SPLIT_SEED)}, a.vec_id) AS rk
  FROM assign a
)
SELECT 'cluster_balance' AS part, d.doc_id, d.lang, d.source,
       CASE WHEN r.vec_id IS NULL THEN 'unembedded'
            WHEN r.rk <= c.cap THEN 'kept' ELSE 'capped' END AS split
FROM documents d
LEFT JOIN crk r ON d.doc_id = r.vec_id
LEFT JOIN caps c ON r.cid = c.cid
"""
    return f"""
SELECT * FROM ({plain}) AS plain_part
UNION ALL
SELECT 'curated' AS part, doc_id, lang, source, split
FROM ({curated}) AS curated_part
UNION ALL
SELECT * FROM ({packed}) AS packed_part
UNION ALL
SELECT * FROM ({mixture}) AS mixture_part
UNION ALL
SELECT * FROM ({dsir_sel}) AS dsir_part
UNION ALL
SELECT * FROM ({gumbel}) AS gumbel_part
UNION ALL
SELECT * FROM ({domain}) AS domain_part
UNION ALL
SELECT * FROM ({cluster}) AS cluster_part
"""


@register(
    "train_test_split",
    oracle=None,  # installed below (composes dedup's minhash-pair SQL)
    tags=("D12", "D23", "D24", "D26"),
    doc="Data-prep split surface, discriminated by `part`. 'split_all': "
    "stratified train/valid/test split — within each (lang, source) "
    "stratum, rows are ordered by a seeded integer hash (deterministic "
    "pseudo-random permutation, replayed exactly by the oracle) and "
    "ntile(10) assigns 80/10/10 — exact per-stratum proportions, unlike "
    "a plain hash-mod split whose per-stratum fractions drift. One "
    "window shuffle on the stratum key; at 100 TB strata are large and "
    "contiguous so the sort is the only cost, and a sampled-quantile "
    "assignment (approx ntile) drops the sort if needed — executable "
    "since r10 as mlprep.split_all_threshold (per-stratum "
    "approx_percentile thresholds on the hash; boundary contract vs "
    "the exact ntile pinned in tests). 'curated' "
    "(r7): the END-TO-END curation pipeline — quality gate -> "
    "exact-dedup keeper -> MinHash-LSH near-dup canonical -> stratified "
    "split — one decision per input document ('rejected:quality' | "
    "'rejected:exact_dup' | 'rejected:near_dup' | train/valid/test); "
    "see operators/curate.py for the staged design and scale shape. "
    "Since r13 the stage-1 gate also APPLIES the published Gopher "
    "Table A1 thresholds over the 17 signals text_profile computes "
    "(quality_rules=GOPHER_FIXTURE_RULES — the full published set "
    "minus the stopword-containment rule, which the synthetic "
    "fixture's vocabulary fails wholesale; decision labels extend to "
    "'rejected:quality:<rule>', first failing rule in published "
    "order, oracle gate = the same rendered CASE string — "
    "operators/_gopher_core.py). "
    "'packed' (r8): token-budget training packs — docs are sharded by a "
    "seeded hash (PACK_SHARDS ~= cluster parallelism at 100 TB), ordered "
    "pseudo-randomly within the shard, and a running token sum assigns "
    "pack id floor((cum-tok)/PACK_BUDGET): each shard's running-sum "
    "window is an independent partition, so the only shuffle is the "
    "shard exchange and packing parallelizes across the cluster. "
    "'mixture' (r8): sqrt-scaled language upsampling (the multilingual "
    "sampling-temperature shape, tau=2) — per-lang copy counts are "
    "computed on an integer grid (floor(sqrt(n_g)*2^20)) so the group "
    "sum is exact in both engines, fractional copies resolve by seeded "
    "per-doc hash vs the fraction on the same integer grid, capped at "
    "MIX_MAX_COPIES, and rows are exploded via sequence(). The lang "
    "histogram is a tiny aggregate broadcast back to documents — one "
    "scan, no extra shuffle at any scale. 'dsir_selected' (r9): DSIR "
    "data SELECTION — the top 1/DSIR_KEEP_DIV of weighted docs by the "
    "shared integer micro-nat importance weight (textstats.dsir_micro), "
    "ties by doc_id; docs with no tokens -> 'unweighted'. Deterministic "
    "zero-temperature variant of Xie et al.'s Gumbel resampling "
    "(divergence documented); at 100 TB the global rank window becomes "
    "an approx-quantile threshold cut. 'dsir_gumbel' (r11): the "
    "temperature>0 form — a SEEDED, engine-replayable Gumbel "
    "(u from the doc_id hash, g = -ln(-ln(u))) perturbs logw/tau on "
    "the 6dp integer grid before the same top-1/5 rank cut; tau -> 0 "
    "recovers 'dsir_selected' exactly (pinned). 'domain_reweight' (r9): one-shot "
    "importance-weighted DOMAIN mixture (the DoReMi shape with the "
    "shared DSIR weight as the excess-loss proxy) — per-source resample "
    "rate = target/natural token share with target ∝ share × exp(mean "
    "importance), rates on the exact 6dp integer grid, per-doc copies "
    "by the mixture grid trick, zero-copy docs surfaced as 'dropped'. "
    "'cluster_balance' (r9): semantic-cell balancing caps (MetaCLIP "
    "shape) over the SemDeDup/IVF deterministic cell assignment — "
    "cap = ceil(n/k), within-cell seeded-hash rank, 'kept'/'capped'/"
    "'unembedded'. Both per-doc surfaces share the one scratch-persisted "
    "DSIR build with 'dsir_selected'. CONSUMPTION CONTRACT (as star-CC): "
    "the returned frame is backed by tracked localCheckpoints (the IVF "
    "assignment + DSIR weight builds) whose blocks are FREED at the next "
    "registry-entry call — consume (collect/write) before invoking "
    "another entry; holding the frame across one fails on missing "
    "checkpoint blocks rather than silently recomputing (scratch.py "
    "documents the class).",
)
def train_test_split(spark, sf_dir):
    from ..scratch import tracked_checkpoint
    from ._dsir_core import dsir_micro
    from .curate import corpus_curate

    d = t(spark, sf_dir, "documents")
    win = Window.partitionBy("lang", "source").orderBy(
        int_hash(F.col("doc_id"), 0, 77), F.col("doc_id")
    )
    tile = F.ntile(N_TILES).over(win)
    plain = d.select(
        F.lit("split_all").alias("part"),
        "doc_id",
        "lang",
        "source",
        F.when(tile <= 8, F.lit("train"))
        .when(tile == 9, F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    # ONE IVF cell assignment feeds both the curated part's semantic
    # dedup stage and the cluster_balance caps, and ONE DSIR weight
    # build feeds dsir_selected + domain_reweight — tracked
    # localCheckpoints (released at the next registry entry): each
    # build materializes exactly once (lazy scratch-persist measured
    # EQUAL wall here — parallel union branches race the unpersisted
    # cache and duplicate the compute — while re-expanding the
    # builds' bounded 1-row/centroid BNLJs once per consumer branch
    # in the printed plan)
    from .similarity import embeddings_normed, ivf_assign

    # serial: the IVF assignment, the DSIR weight build and the
    # curation chain are independent eager segments, but materializing
    # the DSIR build on a driver thread beside the other two ran 6 %
    # faster at 4 cores (tools/ab.py warm rep, sf0.1, 5 pairs), under
    # the 10 % an overlap must earn
    from ._gopher_core import GOPHER_FIXTURE_RULES

    w = tracked_checkpoint(dsir_micro(d.select("doc_id", "lang", "text")))
    assign = tracked_checkpoint(ivf_assign(embeddings_normed(spark, sf_dir)))
    curated = corpus_curate(
        spark, sf_dir, sem_assign=assign, quality_rules=GOPHER_FIXTURE_RULES
    ).select(F.lit("curated").alias("part"), "doc_id", "lang", "source", "split")
    return (
        plain.unionByName(curated)
        .unionByName(_packed_part(d))
        .unionByName(_mixture_part(d))
        .unionByName(_dsir_selected_part(d, w))
        .unionByName(_dsir_gumbel_part(d, w))
        .unionByName(_domain_reweight_part(d, w))
        .unionByName(_cluster_balance_part(assign, d))
    )


def _packed_part(d):
    """Spark twin of the 'packed' oracle half (_split_oracle): greedy
    token-budget packing by running sum within seeded-hash shards."""
    hk = int_hash(F.col("doc_id"), 4, SPLIT_SEED)
    raw = d.select(
        "doc_id",
        "lang",
        "source",
        F.coalesce(F.size(tokens(F.col("text"))), F.lit(0)).cast("long").alias("tok"),
        hk.alias("hk"),
        (hk % F.lit(PACK_SHARDS)).alias("shard"),
    )
    cum_win = (
        Window.partitionBy("shard")
        .orderBy(F.col("hk").asc_nulls_first(), F.col("doc_id").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = raw.withColumn("cum", F.sum("tok").over(cum_win))
    pack_id = F.floor((F.col("cum") - F.col("tok")) / F.lit(PACK_BUDGET)).cast("long")
    return packed.select(
        F.lit("packed").alias("part"),
        "doc_id",
        "lang",
        "source",
        F.concat(
            F.lit("pack_"),
            F.col("shard").cast("string"),
            F.lit("_"),
            pack_id.cast("string"),
        ).alias("split"),
    )


def _mixture_part(d):
    """Spark twin of the 'mixture' oracle half: per-language sqrt-scaled
    copy counts (sampling-temperature tau=2 upsampling) on an exact
    integer grid, resolved per-doc by seeded hash, exploded via
    sequence(). cnts is a |langs|-row aggregate — broadcast back."""
    cnts = (
        d.groupBy(F.col("lang").alias("g_lang"))
        .agg(F.count(F.lit(1)).alias("n_g"))
        .withColumn(
            "s_g",
            F.floor(F.sqrt(F.col("n_g").cast("double")) * F.lit(MIX_GRID)).cast("long"),
        )
    )
    # 1-row totals broadcast onto the |langs|-row histogram — a bounded
    # BroadcastNestedLoopJoin, whitelisted in the registry plan sweep
    # (a constant-key equi-join is no escape: Catalyst folds the
    # literal keys away and plans BNLJ regardless)
    totals = cnts.agg(
        F.sum("n_g").alias("n_tot"), F.sum("s_g").alias("s_tot")
    )
    cnts = cnts.crossJoin(F.broadcast(totals))
    rated = d.join(
        F.broadcast(cnts), d["lang"].eqNullSafe(cnts["g_lang"]), "inner"
    ).select(
        "doc_id",
        "lang",
        "source",
        (
            (F.col("n_tot").cast("double") * F.col("s_g").cast("double"))
            / (F.col("n_g").cast("double") * F.col("s_tot").cast("double"))
        ).alias("r"),
        int_hash(F.col("doc_id"), 3, SPLIT_SEED).alias("h"),
    )
    frac_grid = F.floor((F.col("r") - F.floor(F.col("r"))) * F.lit(MOD)).cast("long")
    copies = F.least(
        F.floor("r").cast("long")
        + F.when(F.col("h") < frac_grid, F.lit(1)).otherwise(F.lit(0)),
        F.lit(MIX_MAX_COPIES).cast("long"),
    )
    cop = rated.select("doc_id", "lang", "source", copies.alias("copies")).where(
        F.col("copies") >= 1
    )
    return cop.select(
        F.lit("mixture").alias("part"),
        "doc_id",
        "lang",
        "source",
        F.explode(F.sequence(F.lit(1).cast("long"), F.col("copies"))).alias("ci"),
    ).select(
        "part",
        "doc_id",
        "lang",
        "source",
        F.concat(F.lit("mix"), F.col("ci").cast("string")).alias("split"),
    )


def pack_tokens_capped(d, budget: int = PACK_BUDGET, shards: int = PACK_SHARDS):
    """HARD-CAP sequence packing (r11): first-fit-decreasing bins with
    pack token-sum <= budget — the context-window form of the 'packed'
    part, whose running-sum pack can OVERFLOW the budget (the doc
    crossing the boundary belongs to the earlier pack; a trainer then
    truncates the overflow). Here every pack fits the context window
    whole, except a single doc longer than the budget, which packs
    alone (the trainer's chunk-long-docs case, surfaced as
    ``oversize`` = true).

    Distribution shape: docs shard by the SAME seeded hash as 'packed'
    (shards ~= cluster parallelism at 100 TB), and FFD runs per shard
    inside one applyInPandas — Python is the right lane here because a
    capacity-capped bin assignment is inherently sequential state (a
    running-sum window cannot express "reset when the next doc would
    overflow"). Deterministic: within a shard docs sort (tok desc,
    doc_id), bins probe first-fit in creation order. The per-shard
    linear bin scan is O(docs x open bins); at extreme shard sizes
    bucket bins by residual capacity — noted, not needed while shards
    track parallelism.

    Returns (doc_id, shard, pack_id, tok, oversize). Packing quality
    vs the overflow form is utilization = total_tok/(n_packs x budget)
    — receipt in tests (FFD is the classic 11/9·OPT+1 guarantee)."""
    import pandas as pd

    hk = int_hash(F.col("doc_id"), 4, SPLIT_SEED)
    raw = d.select(
        "doc_id",
        F.coalesce(F.size(tokens(F.col("text"))), F.lit(0)).cast("long").alias("tok"),
        (hk % F.lit(shards)).alias("shard"),
    )

    def _ffd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["tok", "doc_id"], ascending=[False, True])
        loads: list[int] = []
        packs, oversize = [], []
        for tok in pdf["tok"].to_numpy():
            t = int(tok)
            if t > budget:
                packs.append(len(loads))
                loads.append(t)  # full — nothing else first-fits in
                oversize.append(True)
                continue
            for i, ld in enumerate(loads):
                if ld + t <= budget:
                    loads[i] = ld + t
                    packs.append(i)
                    break
            else:
                packs.append(len(loads))
                loads.append(t)
            oversize.append(False)
        pdf = pdf.assign(pack_id=packs, oversize=oversize)
        return pdf[["doc_id", "shard", "pack_id", "tok", "oversize"]]

    return raw.groupBy("shard").applyInPandas(
        _ffd, "doc_id bigint, shard bigint, pack_id bigint, tok bigint, oversize boolean"
    )


def _dsir_selected_part(d, w):
    """Spark twin of the 'dsir_selected' oracle half: DSIR data
    SELECTION over the shared importance-weight pipeline
    (textstats.dsir_micro) — keep the top 1/DSIR_KEEP_DIV of weighted
    docs by weight. Ranking is on the EXACT integer micro-nat sum
    (ties -> doc_id), so both engines order identically. Docs with no
    tokens have no weight -> 'unweighted'.

    Divergence from Xie et al. 2023 (documented): the paper RESAMPLES
    with probability ∝ exp(logw) (Gumbel top-k); this part is the
    deterministic zero-temperature variant — rank by weight and cut.
    At 100 TB the global rank window becomes a quantile threshold
    (approx_percentile on smic) instead of a single-partition sort;
    the cut semantics are unchanged."""
    ranked = w.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("smic").desc(), "doc_id"))
        .alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nw"),
    )
    lab = ranked.select(
        "doc_id",
        F.when(
            F.col("rk") <= F.floor(F.col("nw") / F.lit(DSIR_KEEP_DIV)).cast("long"),
            F.lit("selected"),
        )
        .otherwise(F.lit("rest"))
        .alias("sel"),
    )
    return (
        d.select("doc_id", "lang", "source")
        .join(lab, "doc_id", "left")
        .select(
            F.lit("dsir_selected").alias("part"),
            "doc_id",
            "lang",
            "source",
            F.coalesce("sel", F.lit("unweighted")).alias("split"),
        )
    )


def dsir_select_gumbel(w, tau: float = DSIR_GUMBEL_TAU, keep_div: int = DSIR_KEEP_DIV):
    """Seeded-Gumbel DSIR selection (r11, VERDICT r10 #4): the
    temperature>0 form of Xie et al. 2023's Gumbel-top-k RESAMPLING,
    whose zero-temperature determinization is the 'dsir_selected' cut
    (the divergence that part documents). The per-doc Gumbel is
    seeded and engine-replayable: u = (int_hash(doc_id, {GUMBEL_J},
    SPLIT_SEED) + 0.5)/MOD in (0,1), g = -ln(-ln(u)), and the sampling
    key logw/tau + g is rounded onto the shared 6dp integer grid
    (micro-nats) BEFORE ranking, ties -> doc_id — so DuckDB replays the
    selection exactly (the exp()-rounding risk class the
    domain_reweight oracle already carries, hash-green since r9).

    tau -> 0 recovers the exact 'dsir_selected' cut on any no-tie
    boundary (pinned in tests): the key is dominated by smic/tau, so
    ordering degenerates to weight ordering with Gumbel noise only
    splitting exact-weight ties (where the exact cut uses doc_id).
    Higher tau mixes lower-weight docs in with seeded randomness — the
    paper's diversity argument for resampling over hard cuts.

    ``w``: the (doc_id, smic, ntok) frame from dsir_micro. Returns
    (doc_id, smic, kmic, sel). Scale: one global rank window like the
    exact cut; at 100 TB swap the window for the
    :func:`dsir_select_threshold` percentile pattern on kmic."""
    if tau <= 0:
        raise ValueError(f"tau must be > 0 (tau -> 0 IS dsir_selected), got {tau}")
    u = (
        int_hash(F.col("doc_id"), GUMBEL_J, SPLIT_SEED).cast("double") + F.lit(0.5)
    ) / F.lit(float(MOD))
    g = -F.log(-F.log(u))
    kmic = (
        F.round(
            F.col("smic").cast("double") / F.lit(1000000.0) / F.lit(float(tau)) + g, 6
        ).cast("decimal(18,6)")
        * 1000000
    ).cast("long")
    ranked = w.select(
        "doc_id",
        "smic",
        kmic.alias("kmic"),
    ).select(
        "doc_id",
        "smic",
        "kmic",
        F.row_number().over(Window.orderBy(F.col("kmic").desc(), "doc_id")).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nw"),
    )
    return ranked.select(
        "doc_id",
        "smic",
        "kmic",
        F.when(
            F.col("rk") <= F.floor(F.col("nw") / F.lit(keep_div)).cast("long"),
            F.lit("selected"),
        )
        .otherwise(F.lit("rest"))
        .alias("sel"),
    )


def _dsir_gumbel_part(d, w):
    """Spark twin of the 'dsir_gumbel' oracle half — the registry
    surface of :func:`dsir_select_gumbel` at tau = DSIR_GUMBEL_TAU,
    sharing the one scratch-persisted weight build with
    'dsir_selected' / 'domain_reweight'."""
    lab = dsir_select_gumbel(w).select("doc_id", "sel")
    return (
        d.select("doc_id", "lang", "source")
        .join(lab, "doc_id", "left")
        .select(
            F.lit("dsir_gumbel").alias("part"),
            "doc_id",
            "lang",
            "source",
            F.coalesce("sel", F.lit("unweighted")).alias("split"),
        )
    )


def dsir_select_threshold(w, keep_div: int = DSIR_KEEP_DIV, accuracy: int = 100000):
    """The 100 TB form of the 'dsir_selected' cut — the swap point the
    entry docstring documents, made executable: instead of a global
    rank window (single-partition sort at corpus scale), compute the
    (1 - 1/keep_div) quantile of the integer micro-nat weight with
    ``approx_percentile`` (one pass, mergeable sketch, rank error
    <= n/accuracy) and keep docs at or above the threshold.

    Semantics vs the exact cut (pinned in tests): the exact rank cut
    splits boundary TIES by doc_id to land exactly k = floor(n/keep_div)
    docs; a threshold cannot split a tie, so this form keeps ALL docs
    whose weight equals the boundary value — strictly-above docs are
    selected by both forms, strictly-below by neither, and the
    difference is confined to the boundary tie group plus the sketch's
    rank error.

    Rank convention (the r9 off-by-one, fixed): the exact cut's
    boundary is the k-th LARGEST weight = ascending rank n-k+1, but
    ``approx_percentile(smic, 1 - 1/keep_div)`` lands on ascending
    rank ~ceil(n·(1-1/keep_div)) = n-k (one rank LOW when keep_div
    divides n), so ``>= thr`` admitted a strictly-below-boundary doc.
    Now n is counted first and the percentile is aimed at fractional
    rank n-k+0.5, whose ceil is exactly the boundary rank n-k+1.

    Caller contract (ADVICE r10): PERSIST/checkpoint ``w`` before
    calling — the count action executes w's plan, and an uncached w
    re-executes the whole DSIR weight lineage a second time for the
    percentile pass. On a materialized frame the count is a cheap
    scan; on raw lineage it doubles the weight build.

    ``w``: the (doc_id, smic, ntok) weight frame from dsir_micro.
    Returns (doc_id, smic, sel)."""
    n = w.count()
    k = n // keep_div
    if k <= 0:
        # fewer docs than one keep bucket: the exact cut selects nothing
        return w.select("doc_id", "smic", F.lit("rest").alias("sel"))
    frac = (n - k + 0.5) / n
    thr = w.agg(
        F.expr(f"approx_percentile(smic, {frac}, {accuracy})").alias("thr")
    )
    return w.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "smic",
        F.when(F.col("smic") >= F.col("thr"), F.lit("selected"))
        .otherwise(F.lit("rest"))
        .alias("sel"),
    )


def _domain_rates(dom0, prev_rate=None, eta: float = 1.0):
    """The one-shot DoReMi-shape rate table, factored (r10) so the
    iterated loop (:func:`domain_reweight_iterated`) shares the EXACT
    arithmetic: ``dom0`` is the |sources|-row (source, t_s, m_s)
    aggregate (token count + integer micro-nat importance sum per
    source); returns (g_source, r). Op order is fixed and every
    cross-domain sum runs over 6dp-grid integers (the flam pattern):
    rawmic_s = round(share_s·prev_s·exp(eta·mean_s), 6)·1e6, rate_s =
    rawmic_s·t_tot / (s_tot·t_s). ``prev_rate``: an optional
    (source, r_prev) frame — the EG iteration's carried state; absent
    (the one-shot) it is the literal 1.0, and eta=1.0 multiplies
    exactly, so round 1 of the loop reproduces the one-shot
    bit-for-bit (pinned in tests)."""
    wall = Window.partitionBy()
    if prev_rate is None:
        dom0 = dom0.withColumn("r_prev", F.lit(1.0))
    else:
        pr = prev_rate.select(
            F.col("source").alias("p_source"), F.col("r").alias("r_prev")
        )
        dom0 = dom0.join(
            pr, dom0["source"].eqNullSafe(pr["p_source"]), "left"
        ).select(dom0["*"], F.coalesce("r_prev", F.lit(0.0)).alias("r_prev"))
    dom1 = dom0.select(
        "source", "t_s", "m_s", "r_prev", F.sum("t_s").over(wall).alias("t_tot")
    )
    raw = (
        (F.col("t_s").cast("double") / F.col("t_tot").cast("double"))
        * F.col("r_prev")
    ) * F.exp(
        F.lit(eta)
        * ((F.col("m_s").cast("double") / F.lit(1000000.0)) / F.col("t_s").cast("double"))
    )
    rawmic = (
        F.when((F.col("t_s") == 0) | (F.col("t_tot") == 0), F.lit(0).cast("long"))
        .otherwise((F.round(raw, 6).cast("decimal(18,6)") * 1000000).cast("long"))
    )
    dom2 = dom1.select("source", "t_s", "t_tot", rawmic.alias("rawmic"))
    dom3 = dom2.select(
        "source", "t_s", "t_tot", "rawmic", F.sum("rawmic").over(wall).alias("s_tot")
    )
    rate = F.when((F.col("t_s") == 0) | (F.col("s_tot") == 0), F.lit(0.0)).otherwise(
        (F.col("rawmic").cast("double") * F.col("t_tot").cast("double"))
        / (F.col("s_tot").cast("double") * F.col("t_s").cast("double"))
    )
    return dom3.select(F.col("source").alias("g_source"), rate.alias("r"))


def _domain_reweight_part(d, w):
    """Spark twin of the 'domain_reweight' oracle half: one-shot
    importance-weighted DOMAIN mixture — the DoReMi shape (Xie et al.
    2023, arXiv:2305.10429) with the shared DSIR importance weight as
    the excess-loss proxy instead of a trained proxy model (documented
    divergence: DoReMi iterates exponentiated-gradient updates against
    a proxy LM; this is the deterministic single-step analog the same
    way dsir_selected is zero-temperature Gumbel).

    Per source s: target share ∝ natural token share × exp(mean
    importance nats/token); resample rate r_s = target/natural share.
    Cross-engine float discipline: each domain's raw weight is computed
    with a FIXED op order from exact integer sums and rounded onto the
    6dp integer grid (the flam pattern in _dsir_core) BEFORE the
    cross-domain normalization sum, so the sum is exact-integer and
    r_s derives from integer ratios in a fixed order. Per-doc copy
    resolution = the 'mixture' grid trick (seeded hash vs fractional
    part on the {MOD} grid), capped at MIX_MAX_COPIES; rate-0 docs
    surface as 'dropped' (unlike 'mixture', which drops them — a
    selection surface should show its rejections).

    Scale: dom* are |sources|-row aggregates (window sums over the
    tiny table, no extra BNLJ); the rate table broadcasts back onto
    documents; the explode is map-only. One (doc,b) DSIR shuffle is
    shared with 'dsir_selected' via the scratch-persisted weight
    build."""
    dw = (
        d.select("doc_id", "lang", "source")
        .join(w, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            F.coalesce("ntok", F.lit(0)).alias("nt"),
            F.coalesce("smic", F.lit(0)).alias("sm"),
        )
    )
    dom0 = dw.groupBy("source").agg(
        F.sum("nt").cast("long").alias("t_s"), F.sum("sm").cast("long").alias("m_s")
    )
    domr = _domain_rates(dom0)
    frac_grid = F.floor((F.col("r") - F.floor(F.col("r"))) * F.lit(MOD)).cast("long")
    copies = F.least(
        F.floor("r").cast("long")
        + F.when(
            int_hash(F.col("doc_id"), 5, SPLIT_SEED) < frac_grid, F.lit(1)
        ).otherwise(F.lit(0)),
        F.lit(MIX_MAX_COPIES).cast("long"),
    )
    domc = dw.join(
        F.broadcast(domr), dw["source"].eqNullSafe(domr["g_source"]), "inner"
    ).select("doc_id", "lang", "source", copies.alias("copies"))
    kept = (
        domc.where(F.col("copies") >= 1)
        .select(
            "doc_id",
            "lang",
            "source",
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("copies"))).alias("ci"),
        )
        .select(
            F.lit("domain_reweight").alias("part"),
            "doc_id",
            "lang",
            "source",
            F.concat(F.lit("mix"), F.col("ci").cast("string")).alias("split"),
        )
    )
    dropped = domc.where(F.col("copies") == 0).select(
        F.lit("domain_reweight").alias("part"),
        "doc_id",
        "lang",
        "source",
        F.lit("dropped").alias("split"),
    )
    return kept.unionByName(dropped)


def split_all_threshold(d, accuracy: int = 100000):
    """The 100 TB swap for split_all's per-stratum ntile, made
    executable (the dsir_select_threshold pattern — the entry doc has
    long documented "a sampled-quantile assignment (approx ntile)
    drops the sort if needed"): per-(lang, source) approx-quantile
    thresholds on the seeded hash at f = 0.8 / 0.9 replace the full
    per-stratum sort window — one groupBy agg (mergeable sketch) + a
    |strata|-row broadcast join back, no window sort anywhere.
    Returns (doc_id, lang, source, split).

    Regime (measured, BASELINE.md r10): at fixture scales the exact
    window WINS (the two-job sketch carries more fixed overhead than a
    sort over small strata) — this form pays off only when strata are
    large enough that the sort's shuffle+spill dominates; pick by
    stratum size, not by default.

    Contract vs the exact ntile (pinned in tests): the threshold lands
    on the hash at ascending rank ceil(f·n) per stratum (Spark's
    percentile-from-below convention — the r9 DSIR off-by-one lesson),
    while ntile's 8-tile boundary sits at rank 8·floor(n/10) +
    min(8, n%10); the two ranks agree when 10 | n and differ by at
    most 1 otherwise, so per stratum the assignment matches the exact
    form everywhere except <= 1 boundary rank per cut plus hash-tie
    groups (the exact form splits hash ties by doc_id; a threshold
    cannot — int_hash ties are vanishingly rare but the contract names
    them)."""
    h = int_hash(F.col("doc_id"), 0, SPLIT_SEED)
    base = d.select("doc_id", "lang", "source", h.alias("h"))
    f80 = 8.0 / N_TILES
    f90 = 9.0 / N_TILES
    thr = base.groupBy("lang", "source").agg(
        F.expr(f"approx_percentile(h, array({f80}, {f90}), {accuracy})").alias("thr")
    )
    # null-safe stratum join: the exact form's window partitionBy keeps
    # a NULL lang/source as its own stratum — a plain equi-join would
    # silently DROP those docs here (r10 self-review)
    thr = thr.select(
        F.col("lang").alias("t_lang"), F.col("source").alias("t_source"), "thr"
    )
    return (
        base.join(
            F.broadcast(thr),
            base["lang"].eqNullSafe(thr["t_lang"])
            & base["source"].eqNullSafe(thr["t_source"]),
        )
        .select(
            "doc_id",
            "lang",
            "source",
            F.when(F.col("h") <= F.col("thr")[0], F.lit("train"))
            .when(F.col("h") <= F.col("thr")[1], F.lit("valid"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )


def _pa_proxy_excess(doms, tri, pr):
    """One DoReMi round's TRAINED-proxy excess (r11): rate-weighted
    aggregated PA-I step from the seeded init, then per-domain mean
    hinge under the trained weights, on the 6dp micro-nat grid.
    ``tri``: the checkpointed (row_id, source, y, coef, feat_id, x_f)
    triplets; ``pr``: the (source, r) rate state. Returns the
    (source, t_s, m_s) dom0 frame for :func:`_domain_rates`."""
    from ..ps.factors import factor_element
    from ..ps.pa import W_HI, W_LO, W_SEED

    dec = "decimal(28,15)"
    pr2 = pr.select(F.col("source").alias("r_source"), F.col("r").alias("rw"))
    weighted = tri.join(
        F.broadcast(pr2), tri["source"].eqNullSafe(F.col("r_source")), "left"
    ).select(
        "row_id",
        "source",
        "y",
        "feat_id",
        "x_f",
        (F.coalesce("rw", F.lit(0.0)) * F.col("coef") * F.col("x_f")).alias("contrib"),
    )
    w1 = (
        weighted.groupBy("feat_id")
        .agg(F.sum(F.col("contrib").cast(dec)).alias("dsum"))
        .select(
            "feat_id",
            (
                factor_element(F.lit(0), F.col("feat_id"), W_SEED, W_LO, W_HI)
                + F.col("dsum").cast("double")
            ).alias("wt"),
        )
    )
    sc = (
        tri.join(F.broadcast(w1), "feat_id")
        .groupBy("row_id", "source", "y")
        .agg(F.sum((F.col("x_f") * F.col("wt")).cast(dec)).alias("ms"))
    )
    hinge = F.greatest(F.lit(0.0), F.lit(1.0) - F.col("y") * F.col("ms").cast("double"))
    exc = (
        sc.select("source", hinge.alias("h"))
        .groupBy("source")
        .agg(F.avg("h").alias("eh"))
        .select(
            F.col("source").alias("e_source"),
            (F.round("eh", 6).cast("decimal(18,6)") * 1000000).cast("long").alias("emic"),
        )
    )
    return doms.join(
        exc, doms["source"].eqNullSafe(F.col("e_source")), "left"
    ).select(
        "source",
        "t_s",
        (F.coalesce("emic", F.lit(0)) * F.col("t_s")).cast("long").alias("m_s"),
    )


DOREMI_ROUNDS = 4


def domain_reweight_iterated(
    spark, sf_dir, rounds: int = DOREMI_ROUNDS, eta: float = 1.0, excess: str = "dsir"
):
    """The REAL DoReMi loop (r10, VERDICT r9 #4): bounded driver-loop
    exponentiated-gradient iteration over domain resample rates (Xie
    et al. 2023, arXiv:2305.10429 Alg. 1), with the iteration's
    self-correcting mixture feedback restored on top of the one-shot
    'domain_reweight' part. Returns (round, source, rate) — one row per
    source per round; round 1 reproduces the one-shot rates EXACTLY
    (pinned in tests).

    ``excess`` picks the per-domain excess-loss proxy (r11, VERDICT
    r10 #5): 'dsir' (default) is the DSIR bucket-model log-ratio below
    — per-round cost INDEPENDENT of corpus size, the recommended form.
    'pa_proxy' is a TRAINED proxy per round, closing the documented
    divergence from the paper: each round takes one rate-weighted
    aggregated PA-I step from the seeded init over the doc_quality
    feature space (ps/pa.py — upweighted domains pull the proxy toward
    themselves, the paper's mixture feedback), and the domain's excess
    is its mean hinge loss under the freshly trained weights (a domain
    the proxy cannot fit keeps high excess and gains rate). Costs one
    pass over the (doc x feature) triplet table per round — inherent
    to a trained proxy; the triplets are checkpointed once. m_s
    encodes mean-excess x t_s on the 6dp micro-nat grid (fits a long
    for t_s < ~1e12 tokens-per-domain; carry the mean separately past
    that).

    Per round t the per-domain excess-loss proxy is RECOMPUTED against
    the current mixture: the bucket model's raw distribution becomes
    the rate-weighted mixture of per-domain bucket counts, c_hat_t(b) =
    sum_s r_s·c_s(b) over T_hat_t = sum_s r_s·t_s, and lmic_t(b) =
    round(ln(p_target(b)/p_mix_t(b)), 6dp micro-nats) — at r = 1 this
    is exactly dsir_micro's lambda table, so round 1 == the one-shot.
    Upsampling a domain raises its mass in the mixture and shrinks its
    own excess, so rates CONVERGE over rounds (the receipt) instead of
    compounding. Documented divergence from the paper (as in the
    one-shot): the trained proxy model's per-domain excess loss is
    replaced by the DSIR bucket-model log-ratio; the EG update
    alpha_t ∝ alpha_{t-1}·exp(eta·excess_t) and the normalization are
    the paper's, on the repo's exact 6dp integer grid.

    Scale shape (the trainer pattern): ONE (doc,b)-class shuffle
    builds the (source, b) count table (<= |sources|·DSIR_B rows,
    tracked-checkpointed); every round is tiny-table DataFrame math
    over it with the |sources|-row rate state checkpointed per round —
    round cost is independent of corpus size."""
    from ..functions.hashing import poly_hash
    from ..scratch import tracked_checkpoint
    from ._dsir_core import DSIR_B, DSIR_SEED, DSIR_TARGET_LANG

    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    if excess not in ("dsir", "pa_proxy"):
        raise ValueError(f"unknown excess source {excess!r}")
    d = t(spark, sf_dir, "documents")
    feat = d.select(
        "source", "lang", F.explode(tokens(F.col("text"))).alias("tok")
    ).select(
        "source", "lang", (poly_hash(F.col("tok"), DSIR_SEED) % DSIR_B).alias("b")
    )
    csb = tracked_checkpoint(
        feat.groupBy("source", "b").agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    ctb = tracked_checkpoint(
        feat.where(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("long").alias("ct"))
    )
    ttf = ctb.agg(F.coalesce(F.sum("ct"), F.lit(0)).cast("long").alias("tt"))
    doms = tracked_checkpoint(
        csb.groupBy("source").agg(F.sum("n").cast("long").alias("t_s"))
    )

    tri = None
    if excess == "pa_proxy":
        from ..ps.pa import _tau, doc_quality_instances, with_margin

        # (row, source, y, coef, feat_id, x_f) — coef = tau_i*y_i under
        # the seeded init (the doc_quality_filter aggregated-step shape);
        # built once, every round re-weights it by the current rates
        src = d.select(F.col("doc_id").alias("row_id"), F.col("source").alias("i_source"))
        base = with_margin(doc_quality_instances(spark, sf_dir)).select(
            "row_id", "y", "x", (_tau("pa1") * F.col("y")).alias("coef")
        )
        tri = tracked_checkpoint(
            base.join(src, "row_id").select(
                "row_id",
                F.col("i_source").alias("source"),
                "y",
                "coef",
                F.posexplode("x").alias("feat_id", "x_f"),
            )
        )

    rates = doms.select(F.col("source").alias("g_source"), F.lit(1.0).alias("r"))
    history = []
    for rnd in range(1, rounds + 1):
        pr = rates.select(F.col("g_source").alias("source"), "r")
        if excess == "pa_proxy":
            dom0 = _pa_proxy_excess(doms, tri, pr)
            rates = tracked_checkpoint(
                _domain_rates(dom0, prev_rate=None if rnd == 1 else pr, eta=eta)
            )
            history.append(
                rates.select(
                    F.lit(rnd).alias("round"), F.col("g_source").alias("source"), "r"
                )
            )
            continue
        # current mixture: rate-weighted per-domain bucket counts
        mixed = csb.join(
            pr.withColumnRenamed("source", "m_source"),
            csb["source"].eqNullSafe(F.col("m_source")),
            "left",
        ).select("b", "source", "n", F.coalesce("r", F.lit(0.0)).alias("rw"))
        ch = mixed.groupBy("b").agg(F.sum(F.col("rw") * F.col("n")).alias("ch"))
        th = mixed.agg(F.sum(F.col("rw") * F.col("n")).alias("th"))
        lam = (
            ch.join(ctb, "b", "left")
            .crossJoin(F.broadcast(th))
            .crossJoin(F.broadcast(ttf))
            .select(
                "b",
                (
                    F.round(
                        F.log(
                            (
                                (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                                / (F.col("tt") + F.lit(float(DSIR_B)))
                            )
                            / ((F.col("ch") + F.lit(1.0)) / (F.col("th") + F.lit(float(DSIR_B))))
                        ),
                        6,
                    ).cast("decimal(18,6)")
                    * 1000000
                )
                .cast("long")
                .alias("lmic"),
            )
        )
        msum = (
            csb.join(F.broadcast(lam), "b")
            .groupBy("source")
            .agg(F.sum(F.col("n") * F.col("lmic")).cast("long").alias("m_s"))
        )
        dom0 = doms.join(
            msum.withColumnRenamed("source", "s2"),
            doms["source"].eqNullSafe(F.col("s2")),
            "left",
        ).select("source", "t_s", F.coalesce("m_s", F.lit(0)).cast("long").alias("m_s"))
        rates = tracked_checkpoint(
            _domain_rates(dom0, prev_rate=None if rnd == 1 else pr, eta=eta)
        )
        history.append(rates.select(F.lit(rnd).alias("round"), F.col("g_source").alias("source"), "r"))
    out = history[0]
    for h in history[1:]:
        out = out.unionByName(h)
    return out


def _cluster_balance_part(assign_full, d):
    """Spark twin of the 'cluster_balance' oracle half: semantic-cell
    balancing caps (the MetaCLIP/DataComp curation shape — the cap is
    per-CLUSTER, so over-represented semantic neighborhoods are
    truncated instead of letting head content dominate the mixture).

    Cells = the deterministic IVF coarse assignment shared with
    SemDeDup and the ANN path (similarity.ivf_assign: counted-n
    centroids, k ~ sqrt(n), max-cosine cell — subset-independent, so
    the oracle replays it exactly; at real scale centroids come from
    sampled k-means with the identical join shape and sizing).
    cap = ceil(n_vectors / n_cells) via integer `div`
    (engine-identical); within each cell docs rank by seeded hash
    (deterministic pseudo-random), rank <= cap -> 'kept', else
    'capped'; docs without a vector -> 'unembedded'.

    Scale: the centroid table is a ~sqrt(n)-row bounded broadcast; the
    rank window partitions by cell (~sqrt(n) rows avg); caps is a
    |cells|-row broadcast equi-join; everything else is the documents
    scan."""
    # ``assign_full``: the entry's ONE tracked-checkpoint IVF
    # assignment (also feeding the curated semantic stage) — it pins
    # the cosine pass once, and the checkpoint lets both this part's
    # consumers (cell-size aggregate and within-cell rank) read it
    # without re-expanding the centroid-broadcast plan
    assign = assign_full.select("vec_id", "cid")
    cells = assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n_c"))
    wall = Window.partitionBy()
    caps = cells.select(
        "cid",
        F.sum("n_c").over(wall).alias("n_tot"),
        F.count(F.lit(1)).over(wall).alias("k"),
    ).select("cid", F.expr("(n_tot + k - 1) div k").alias("cap"))
    rkw = Window.partitionBy("cid").orderBy(
        int_hash(F.col("vec_id"), 6, SPLIT_SEED), "vec_id"
    )
    ranked = (
        assign.withColumn("rk", F.row_number().over(rkw))
        .join(F.broadcast(caps), "cid")
        .select(F.col("vec_id").alias("doc_id"), "rk", "cap")
    )
    return (
        d.select("doc_id", "lang", "source")
        .join(ranked, "doc_id", "left")
        .select(
            F.lit("cluster_balance").alias("part"),
            "doc_id",
            "lang",
            "source",
            F.when(F.col("rk").isNull(), F.lit("unembedded"))
            .when(F.col("rk") <= F.col("cap"), F.lit("kept"))
            .otherwise(F.lit("capped"))
            .alias("split"),
        )
    )


def _install_split_oracle() -> None:
    """Late-bind the oracle: it embeds dedup's _MINHASH_SQL, and doing
    the import inside @register at module-import time would cycle
    (dedup imports the registry)."""
    import dataclasses

    from ..plans.registry import REGISTRY

    spec = REGISTRY["train_test_split"]
    REGISTRY["train_test_split"] = dataclasses.replace(spec, oracle=_split_oracle())


_install_split_oracle()


@register(
    "embedding_quantize",
    oracle=f"""
WITH nv AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd,
         list_transform(embedding, x -> CAST(x AS DOUBLE) / sqrt({norm2_sql('embedding')})) AS v
  FROM embeddings
  WHERE {norm2_sql('embedding')} > 0
),
sc AS (
  SELECT vec_id, label, v, xd,
         list_max(list_transform(xd, x -> abs(x))) AS maxabs,
         list_max(list_transform(v, x -> abs(x))) AS scale
  FROM nv
)
SELECT vec_id, label,
       round(scale, 6) AS scale,
       round(sqrt({norm2_sql('v')}), 6) AS norm_check,
       array_to_string(list_transform(xd, x -> CAST(CAST(round(round(x / maxabs * {Q_BITS}, 6), 0) AS BIGINT) AS VARCHAR)), ',') AS q_csv
FROM sc
""",
    tags=("D25", "D16"),
    doc="Embedding L2-normalize + symmetric int8 quantization: unit "
    "vector, per-vector scale = max |component|, q = round(v/scale*127) "
    "in [-127, 127] emitted as a csv string (exact integers, "
    "hash-stable). Determinism: q is derived from the RAW components — "
    "v_i/scale == x_i/max|x_j| exactly in real arithmetic, so the "
    "quantize path uses x_i/maxabs directly, where both inputs are "
    "bit-identical across engines (float32->double cast is exact, max "
    "is fold-order-independent), unlike the normalize fold whose "
    "last-ulp drift once flipped a half-tie component (-56 vs -57); a "
    "6dp pre-round before the integer round guards the residual exact "
    "n.5 ties, which both engines round away from zero. Zero vectors "
    "(norm2 = 0) are filtered in both engines rather than emitting NaN "
    "rows. Map-only — zero shuffles at any scale; norm_check re-derives "
    "||v|| = 1 through the same sequential fold both engines use, "
    "guarding the normalization path.",
)
def embedding_quantize(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    xd = as_double(F.col("embedding"))
    # bind xd and its norm as columns BEFORE the normalize transform:
    # a lambda that references norm2(xd) directly re-evaluates the
    # O(d) fold per element — O(d^2) per row (the outer-reference
    # pitfall, BASELINE.md r11). Against bound columns each element is
    # one divide.
    nv = (
        e.where(norm2(xd) > 0)
        .select("vec_id", "label", xd.alias("xd"))
        .withColumn("nrm", F.sqrt(norm2(F.col("xd"))))
        .select(
            "vec_id",
            "label",
            "xd",
            F.transform("xd", lambda x: x / F.col("nrm")).alias("v"),
        )
    )
    sc = nv.select(
        "vec_id",
        "label",
        "v",
        "xd",
        F.array_max(F.transform("xd", lambda x: F.abs(x))).alias("maxabs"),
        F.array_max(F.transform("v", lambda x: F.abs(x))).alias("scale"),
    )
    q = F.concat_ws(
        ",",
        F.transform(
            "xd",
            lambda x: F.round(F.round(x / F.col("maxabs") * Q_BITS, 6), 0)
            .cast("long")
            .cast("string"),
        ),
    )
    return sc.select(
        "vec_id",
        "label",
        F.round("scale", 6).alias("scale"),
        F.round(F.sqrt(norm2(F.col("v"))), 6).alias("norm_check"),
        q.alias("q_csv"),
    )
