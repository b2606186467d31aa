"""End-to-end corpus curation pipeline (north-star LLM-data surface):

    quality gate -> exact-dedup keeper -> eval decontamination ->
    near-dup canonical -> split

One DataFrame out with a per-document DECISION — the composition a
100 TB training-data pipeline actually runs, built entirely from this
repo's own proven stages so the whole pipeline stays oracle-checkable:

- stage 0 eval holdout (r8): a deterministic seeded-hash subset of the
  corpus plays the held-out EVAL/BENCHMARK set (1/CURATE_EVAL_MOD of
  docs — replayable by the oracle, standing in for the external eval
  suite a real pipeline loads). Eval docs bypass curation with
  decision 'eval_holdout'.
- stage 1 quality: structural gate (n_chars >= CURATE_MIN_CHARS and
  whitespace-token count >= CURATE_MIN_TOKENS; null text fails). The
  thresholds are deliberately simple length signals — the richer
  Gopher-style signals live in text_profile and compose the same way.
- stage 2 exact dedup: survivors keep only the min-doc_id keeper per
  normalized content hash (casefold + whitespace-collapse + trim +
  sha256 — dedup_exact's 'normalized' form, recomputed over the
  survivor set so a rejected doc can't crowd out a surviving copy).
- stage 3 decontamination (r8): the GPT-3/Pile shape — any surviving
  training doc that NEAR-DUPLICATES an eval doc (MinHash-LSH band
  match + exact Jaccard >= JACCARD_T, the identical probe
  streaming/incremental_dedup.contamination_check runs against a
  persisted store; equivalence pinned in
  tests/test_incremental_dedup.py) is 'rejected:contaminated'. Runs
  after the cheap structural gates, before the expensive CC.
- stage 4 near-dup: MinHash-LSH pairs computed on the needed subset
  only — decontaminated survivors plus the eval set (pair membership
  depends only on the two docs' signatures, so this equals the
  full-corpus pair set filtered to those endpoints — which is exactly
  what the oracle computes), clustered with the alternating star
  connected-components operator; only each cluster's min-doc_id
  canonical survives.
- stage 5 split: the stratified seeded-ntile train/valid/test split
  over the final survivors (train_test_split's exact mechanics).

Decision vocabulary (the `split` column of part='curated' rows):
'eval_holdout' | 'rejected:quality' | 'rejected:exact_dup' |
'rejected:contaminated' | 'rejected:near_dup' | 'train' | 'valid' |
'test'. Every input document appears exactly once.

Scale shape: stages 0-1 are map-only; stage 2 one shuffle on the
content hash; stage 3 is a banded equi-join against the SMALL eval
side (at 100 TB the eval set is a few benchmark suites — the probe is
effectively a broadcast-sized band store, same shape as
contamination_check's partition-pruned scan); stage 4 the banded-LSH
equi-join plus ~log n CC rounds (two shuffles/round); stage 5 one
window shuffle on the stratum key. No stage materializes to the
driver beyond CC's bounded convergence probe. At 100 TB each stage's
survivor set only shrinks, so the expensive stages run on
ever-smaller inputs — the pipeline is strictly cheaper than running
its stages standalone.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.hashing import int_hash
from ..functions.text import tokens
from ..scratch import scoped_checkpoint, scratch
from ._dedup_core import star_connected_components
from ._util import t

CURATE_MIN_CHARS = 100
CURATE_MIN_TOKENS = 15
N_TILES = 10  # 8/1/1 like train_test_split
CURATE_SEED = 77  # same seeded permutation as the plain split
CURATE_EVAL_J = 5  # hash stream for the eval-holdout draw
CURATE_EVAL_MOD = 13  # ~1/13 of docs act as the held-out eval set


def is_eval_holdout():
    """The seeded eval-set membership predicate (Column<bool> over
    doc_id) — the single definition both the Spark pipeline and the
    store-equivalence test use."""
    return int_hash(F.col("doc_id"), CURATE_EVAL_J, CURATE_SEED) % CURATE_EVAL_MOD == 0


def corpus_curate(spark, sf_dir, sem_assign=None, quality_rules=None):
    """``quality_rules`` (r13, VERDICT r12 #2): opt-in Gopher Table A1
    threshold gate — True applies the full published rule set
    (_gopher_core.GOPHER_RULES), an iterable of rule labels applies that
    subset, None/False keeps the structural-only stage-1 gate. When
    on, stage 1b runs the map-only _gopher_core.gopher_reason_frame over
    structural survivors; a doc failing rule R gets decision
    'rejected:quality:R' (first failing rule in published order) and
    never reaches the dedup stages. The registered train_test_split
    entry passes True — the flagship pipeline rejects on the 17
    signals text_profile publishes, read from the same binder
    (_gopher_core.gopher_signal_frame), plus the gate-only n_req_stop,
    dup_line_frac and dup_para_frac."""
    d = t(spark, sf_dir, "documents")
    full = d.select(
        "doc_id",
        "lang",
        "source",
        "text",
        "n_chars",
        F.size(tokens(F.col("text"))).alias("n_toks"),
        is_eval_holdout().alias("is_eval"),
    )

    # stage 0 — eval holdout: the seeded subset is the benchmark set;
    # it bypasses curation and screens the training side below
    base = full.where(~F.col("is_eval"))

    # stage 1 — quality gate (null text: both comparisons go NULL and
    # the filter/CASE treat non-true as reject, identically in DuckDB)
    q_ok = (F.col("n_chars") >= CURATE_MIN_CHARS) & (
        F.col("n_toks") >= CURATE_MIN_TOKENS
    )
    surv1 = base.where(q_ok)

    # stage 1b (r13, opt-in) — Gopher Table A1 threshold gate over the
    # structural survivors. TRACKED-CHECKPOINTED, not scratch-cached
    # (bench receipt, BASELINE.md r13): surv1 now embeds the gate join,
    # and the pipeline's later stages re-derive surv1's lineage once
    # per consuming branch — with a lazy cache the per-doc signal tree
    # re-evaluated per branch and the entry went 22 -> 415 s at sf0.1;
    # the eager checkpoint cuts the lineage so the gate evaluates
    # exactly once (the entry's existing IVF/DSIR discipline, same
    # consumption contract). Lazy import: textstats imports this
    # module's constants at load time.
    if quality_rules:
        from ._gopher_core import gopher_reason_frame
        from ._util import fan_out

        # fan_out (r14, measured): the fixture documents scan yields 1-2
        # partitions, so the signal tree ran near-serial — the gate's
        # marginal cost scaled x15.5 for x10 docs until this narrow
        # (doc_id, text) shuffle restored full-width map evaluation
        greason = scoped_checkpoint(
            gopher_reason_frame(
                fan_out(surv1.select("doc_id", "text")), quality_rules
            )
        )
        surv1 = surv1.join(
            greason.where(F.col("g_reason").isNotNull()).select("doc_id"),
            "doc_id",
            "left_anti",
        )

    # stage 2 — exact-dup keeper among quality survivors
    from ._dedup_core import norm_content_hash

    nh = norm_content_hash("text")
    # r15: EAGER-checkpoint the keeper frame — it is consumed by the
    # final decision assembly (e_ok) and, through surv2, by the
    # signature build, the decontamination semi-join, the CC edge
    # filters and the split; each consumer re-derived the
    # sha256-window keeper lineage (the greason tracked-checkpoint
    # discipline, same rationale: eager, not lazy scratch, because
    # parallel branches of one plan race an unmaterialized cache and
    # duplicate the compute; measured ~25% off the whole entry at
    # sf0.1). ~46k narrow rows; at 100 TB this is the natural survivor
    # materialization barrier between the cheap gates and the
    # expensive pair stages.
    surv1k = scoped_checkpoint(
        surv1.withColumn(
            "e_ok",
            F.col("doc_id") == F.min("doc_id").over(Window.partitionBy(nh)),
        ).select("doc_id", "lang", "source", "e_ok")
    )
    surv2 = surv1k.where("e_ok").select("doc_id", "lang", "source")

    # stages 3+4 share ONE signature build over exactly the docs whose
    # pairs matter: decontamination needs (survivor x eval) pairs,
    # near-dup CC needs (survivor x survivor) — so signature the
    # survivors plus the eval set and filter endpoints per stage (pair
    # membership depends only on the two docs' signatures, so
    # signaturing a subset changes nothing about which of its pairs
    # verify — the oracle computes the full-corpus pair set and
    # filters endpoints, provably the same sets).
    # (dedup imported lazily: at registration time this module loads
    # while operators.dedup may still be initializing — _dedup_core
    # holds the cycle-free primitives, dedup.py the registered ops)
    from ._dedup_core import shingle_sets, token_hashes
    from .dedup import dedup_minhash_lsh

    eval_ids = full.where("is_eval").select("doc_id")
    sig_docs = d.select("doc_id", "text").join(
        surv2.select("doc_id").unionByName(eval_ids),
        "doc_id",
        "left_semi",
    )
    sh2 = scratch(shingle_sets(token_hashes(sig_docs)))
    pairs = scratch(dedup_minhash_lsh(spark, sf_dir, sh=sh2))

    # stage 3 — decontamination: survivors that near-dup an eval doc.
    # Same probe semantics as incremental_dedup.contamination_check
    # (band equi-join + exact Jaccard verify, already folded into the
    # verified `pairs` set) — equivalence pinned in tests.
    sym = pairs.select(
        F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("peer")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("doc_id"), F.col("doc_a").alias("peer"))
    )
    contam = (
        sym.join(eval_ids.withColumnRenamed("doc_id", "peer"), "peer", "left_semi")
        .select("doc_id")
        .distinct()
        .join(surv2.select("doc_id"), "doc_id", "left_semi")
    )
    surv2d = surv2.join(contam, "doc_id", "left_anti")

    # stage 4 — near-dup canonical among decontaminated survivors
    ids2d = surv2d.select("doc_id")
    edges = (
        pairs.join(ids2d.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
        .join(ids2d.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    )
    parents, _ = star_connected_components(edges)
    rooted = surv2d.join(
        parents.select(F.col("a").alias("doc_id"), F.col("b").alias("root")),
        "doc_id",
        "left",
    ).select(
        "doc_id", "lang", "source", F.coalesce("root", "doc_id").alias("root")
    )
    surv3 = rooted.where(F.col("root") == F.col("doc_id"))

    # stage 5 — SEMANTIC dedup among near-dup canonicals (r9, the
    # SemDeDup placement: run AFTER exact/near dedup so embedding
    # compute is paid only for surviving canonicals). The fixture's
    # embeddings share the documents id space (one vector per doc,
    # verified), so pair candidates come from the same full-corpus
    # IVF-cell generator the dedup 'semantic' method is hash-pinned on
    # (similarity.embedding_semantic_pairs; centroids are the
    # deterministic counted-n rule over the FULL corpus — n is counted
    # once, before any curation filter — so cell assignment is
    # independent of which subset survives — filtering pair endpoints
    # to survivors afterwards is exactly the subset's pair set, the
    # same single-source-of-truth argument as mh_pairs). The argument
    # holds for ANY quantizer fixed before the filter — in particular
    # the fixed-k sampled-k-means geometry (ann_index.kmeans_assign
    # passed via sem_assign=, the 100 TB form: constant centroid
    # broadcast, linear assignment FLOPs; end-to-end pinned in
    # tests/test_fixedk_semantic.py). Components
    # keep the min-doc_id canonical — the pipeline's greedy rule;
    # the paper's keep-least-central variant stays in
    # similarity.semdedup_prune.
    from .similarity import embedding_semantic_pairs

    ids3 = surv3.select("doc_id")
    sem_edges = (
        embedding_semantic_pairs(spark, sf_dir, assign=sem_assign)
        .join(ids3.withColumnRenamed("doc_id", "vec_a"), "vec_a", "left_semi")
        .join(ids3.withColumnRenamed("doc_id", "vec_b"), "vec_b", "left_semi")
        .select(F.col("vec_a").alias("a"), F.col("vec_b").alias("b"))
    )
    parents2, _ = star_connected_components(sem_edges)
    rooted2 = surv3.join(
        parents2.select(F.col("a").alias("doc_id"), F.col("b").alias("sroot")),
        "doc_id",
        "left",
    ).select(
        "doc_id", "lang", "source", F.coalesce("sroot", "doc_id").alias("sroot")
    )
    surv4 = rooted2.where(F.col("sroot") == F.col("doc_id"))

    # stage 6 — stratified seeded split over the final survivors
    win = Window.partitionBy("lang", "source").orderBy(
        int_hash(F.col("doc_id"), 0, CURATE_SEED), F.col("doc_id")
    )
    tile = F.ntile(N_TILES).over(win)
    tiles = surv4.select(
        "doc_id",
        F.when(tile <= 8, F.lit("train"))
        .when(tile == 9, F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias("final_split"),
    )

    # assemble one decision per input document
    dec = F.when(F.col("is_eval"), F.lit("eval_holdout")).when(
        ~F.coalesce("q_ok", F.lit(False)), F.lit("rejected:quality")
    )
    if quality_rules:
        dec = dec.when(
            F.col("g_reason").isNotNull(),
            F.concat(F.lit("rejected:quality:"), F.col("g_reason")),
        )
    out = (
        full.select("doc_id", "lang", "source", "is_eval", q_ok.alias("q_ok"))
        .join(surv1k.select("doc_id", "e_ok"), "doc_id", "left")
        .join(contam.withColumn("is_contam", F.lit(True)), "doc_id", "left")
        .join(rooted.select("doc_id", "root"), "doc_id", "left")
        .join(rooted2.select("doc_id", "sroot"), "doc_id", "left")
        .join(tiles, "doc_id", "left")
    )
    if quality_rules:
        out = out.join(greason, "doc_id", "left")
    return out.select(
        "doc_id",
        "lang",
        "source",
        dec.when(~F.col("e_ok"), F.lit("rejected:exact_dup"))
        .when(F.coalesce("is_contam", F.lit(False)), F.lit("rejected:contaminated"))
        .when(F.col("root") != F.col("doc_id"), F.lit("rejected:near_dup"))
        .when(F.col("sroot") != F.col("doc_id"), F.lit("rejected:semantic_dup"))
        .otherwise(F.col("final_split"))
        .alias("split"),
    )


def curate_oracle_sql(
    minhash_pairs_sql: str,
    int_hash_sql_expr: str,
    semantic_pairs_sql: str,
    quality_rules=None,
) -> str:
    """DuckDB twin of :func:`corpus_curate`, staged CTE for CTE.

    ``minhash_pairs_sql`` is dedup's _MINHASH_SQL verbatim (single
    source of truth for the pair set — it covers the FULL corpus, so
    the decontamination and CC stages filter its endpoints exactly as
    the Spark side's subset-signature build does);
    ``semantic_pairs_sql`` is planes.SEMANTIC_PAIRS_SQL verbatim (same
    single-source argument for the r9 semantic stage — cell assignment
    is the deterministic full-corpus counted-n rule, independent of
    which subset survives); ``int_hash_sql_expr`` the seeded integer
    hash of doc_id used by the split ordering; ``quality_rules`` the
    Gopher Table A1 gate parameter (r13) — must match the Spark call
    (the gate CTEs come from _gopher_core.gopher_gate_sql and the reason
    CASE is the SAME rendered string both engines run)."""
    from ..functions.hashing import int_hash_sql

    eval_pred = f"({int_hash_sql('doc_id', CURATE_EVAL_J, CURATE_SEED)}) % {CURATE_EVAL_MOD} = 0"
    if quality_rules:
        from ._gopher_core import gopher_gate_sql

        gate_ctes = gopher_gate_sql("surv1", quality_rules) + ","
        # stage 1b filter + the decision branch (first failing rule)
        surv1g = (
            "surv1g AS (SELECT s.* FROM surv1 s "
            "JOIN greason g ON s.doc_id = g.doc_id WHERE g.reason IS NULL),"
        )
        gate_from = "surv1g"
        gate_case = (
            "WHEN gr.reason IS NOT NULL THEN 'rejected:quality:' || gr.reason"
        )
        gate_join = "LEFT JOIN greason gr ON b.doc_id = gr.doc_id"
    else:
        gate_ctes = ""
        surv1g = ""
        gate_from = "surv1"
        gate_case = ""
        gate_join = ""
    return f"""
WITH RECURSIVE
curate_base AS (
  SELECT doc_id, lang, source, text, n_chars,
         len(list_filter(string_split(text, ' '), tk -> tk <> '')) AS n_toks,
         {eval_pred} AS is_eval
  FROM documents
),
surv1 AS (
  SELECT * FROM curate_base
  WHERE NOT is_eval
    AND n_chars >= {CURATE_MIN_CHARS} AND n_toks >= {CURATE_MIN_TOKENS}
),
{gate_ctes}
{surv1g}
surv1k AS (
  SELECT *,
         doc_id = min(doc_id) OVER (
           PARTITION BY sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
         ) AS e_ok
  FROM {gate_from}
),
surv2 AS (SELECT doc_id, lang, source FROM surv1k WHERE e_ok),
mh_pairs AS ({minhash_pairs_sql}),
contam AS (
  SELECT DISTINCT s.doc_id FROM surv2 s
  JOIN (
    SELECT doc_a AS did, doc_b AS peer FROM mh_pairs
    UNION ALL
    SELECT doc_b AS did, doc_a AS peer FROM mh_pairs
  ) sym ON s.doc_id = sym.did
  JOIN curate_base e ON sym.peer = e.doc_id AND e.is_eval
),
surv2d AS (
  SELECT * FROM surv2
  WHERE doc_id NOT IN (SELECT doc_id FROM contam)
),
curate_edges AS (
  SELECT p.doc_a AS a, p.doc_b AS b FROM mh_pairs p
  JOIN surv2d sa ON p.doc_a = sa.doc_id JOIN surv2d sb ON p.doc_b = sb.doc_id
  UNION ALL
  SELECT p.doc_b AS a, p.doc_a AS b FROM mh_pairs p
  JOIN surv2d sa ON p.doc_a = sa.doc_id JOIN surv2d sb ON p.doc_b = sb.doc_id
),
reach AS (
  SELECT doc_id AS src, doc_id AS dst FROM surv2d
  UNION
  SELECT r.src, e.b AS dst FROM reach r JOIN curate_edges e ON r.dst = e.a
),
cc AS (SELECT src AS doc_id, min(dst) AS root FROM reach GROUP BY src),
surv3 AS (
  SELECT s.doc_id, s.lang, s.source FROM surv2d s
  JOIN cc ON s.doc_id = cc.doc_id AND cc.root = s.doc_id
),
sem_pairs AS ({semantic_pairs_sql}),
sem_edges AS (
  SELECT p.vec_a AS a, p.vec_b AS b FROM sem_pairs p
  JOIN surv3 sa ON p.vec_a = sa.doc_id JOIN surv3 sb ON p.vec_b = sb.doc_id
  UNION ALL
  SELECT p.vec_b AS a, p.vec_a AS b FROM sem_pairs p
  JOIN surv3 sa ON p.vec_a = sa.doc_id JOIN surv3 sb ON p.vec_b = sb.doc_id
),
reach2 AS (
  SELECT doc_id AS src, doc_id AS dst FROM surv3
  UNION
  SELECT r.src, e.b AS dst FROM reach2 r JOIN sem_edges e ON r.dst = e.a
),
cc2 AS (SELECT src AS doc_id, min(dst) AS sroot FROM reach2 GROUP BY src),
surv4 AS (
  SELECT s.doc_id, s.lang, s.source FROM surv3 s
  JOIN cc2 ON s.doc_id = cc2.doc_id AND cc2.sroot = s.doc_id
),
tiles AS (
  SELECT doc_id,
         CASE WHEN tile <= 8 THEN 'train'
              WHEN tile = 9 THEN 'valid'
              ELSE 'test' END AS final_split
  FROM (
    SELECT doc_id, ntile({N_TILES}) OVER (
             PARTITION BY lang, source
             ORDER BY {int_hash_sql_expr}, doc_id) AS tile
    FROM surv4
  ) st
)
SELECT b.doc_id, b.lang, b.source,
       CASE
         WHEN b.is_eval THEN 'eval_holdout'
         WHEN NOT coalesce(b.n_chars >= {CURATE_MIN_CHARS}
                           AND b.n_toks >= {CURATE_MIN_TOKENS}, FALSE)
           THEN 'rejected:quality'
         {gate_case}
         WHEN NOT k.e_ok THEN 'rejected:exact_dup'
         WHEN ct.doc_id IS NOT NULL THEN 'rejected:contaminated'
         WHEN cc.root <> b.doc_id THEN 'rejected:near_dup'
         WHEN cc2.sroot <> b.doc_id THEN 'rejected:semantic_dup'
         ELSE ti.final_split
       END AS split
FROM curate_base b
LEFT JOIN surv1k k ON b.doc_id = k.doc_id
{gate_join}
LEFT JOIN contam ct ON b.doc_id = ct.doc_id
LEFT JOIN cc ON b.doc_id = cc.doc_id
LEFT JOIN cc2 ON b.doc_id = cc2.doc_id
LEFT JOIN tiles ti ON b.doc_id = ti.doc_id
"""
