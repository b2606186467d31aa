"""Cycle-free MinHash/CC primitives shared by the batch dedup
operators (operators/dedup.py), the curation pipeline
(operators/curate.py), and the incremental signature store
(streaming/incremental_dedup.py).

This module must NOT import ..plans (directly or transitively): the
registry package imports every operator module for registration side
effects, so any module here that is imported WHILE an operator module
is still initializing (e.g. `import operators.dedup` as the process
entry point) must not need names from that partial module. The r7
incremental-dedup work surfaced exactly that failure; primitives live
here, registration glue stays in dedup.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.hashing import MOD, poly_hash, poly_hash_sql
from ..functions.text import tokens, tokens_sql
from ..scratch import hand_off, scoped_checkpoint, unpersist_rdd_ids

SHINGLE_N = 3
MINHASH_SEEDS = (11, 13, 17, 19, 23, 29, 31, 37)  # 8 hashes -> 4 bands x 2 rows
N_BANDS = 4
JACCARD_T = 0.4


def norm_content_hash(text_col: str = "text"):
    """sha256 of the casefold + whitespace-collapse + trim normal form —
    dedup_exact's 'normalized' content identity, shared by the batch
    curation pipeline and the streaming curation exact-dup store (one
    definition, r8 simplify pass)."""
    return F.sha2(F.trim(F.regexp_replace(F.lower(text_col), r"\s+", " ")), 256)

# Shingle hashing is two-level for speed: each token is char-fold-hashed
# ONCE (seed 0), then each of the 8 minhash families is an integer affine
# mix of the combined shingle hash — 8 int ops per shingle instead of 8
# full char folds. ~10x cheaper, identical in both engines.
_TOKHASH_SQL = f"list_transform({tokens_sql('text')}, s -> {poly_hash_sql('s', 0)})"


def _mix_sql(x_expr: str, seed: int) -> str:
    return f"(({x_expr} * {seed * 1009 + 1} + {seed * 2027 + 3}) % {MOD})"


# Shared CTE prefix: token char-fold hashes -> integer shingle hashes,
# MATERIALIZED so DuckDB evaluates each stage once (CTE inlining would
# re-run the char fold per subscript — O(tokens^2)).
_SH_CTES_SQL = f"""th AS MATERIALIZED (SELECT doc_id, {_TOKHASH_SQL} AS th FROM documents),
sh AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(th) - {SHINGLE_N - 1} + 1),
           i -> ((th[i] * 31 + th[i + 1]) * 31 + th[i + 2]) % {MOD})) AS shingles
  FROM th WHERE len(th) >= {SHINGLE_N}
)"""


def _minhash_sql(sh_expr: str) -> str:
    mins = ", ".join(
        f"list_aggregate(list_transform({sh_expr}, x -> {_mix_sql('x', seed)}), 'min')"
        for seed in MINHASH_SEEDS
    )
    return f"[{mins}]"


_MINHASH_SQL = f"""
WITH {_SH_CTES_SQL},
mh AS (SELECT doc_id, shingles, {_minhash_sql('shingles')} AS mh FROM sh),
bands AS (
  SELECT doc_id, b, mh[2*b + 1] * {MOD} + mh[2*b + 2] AS band_key
  FROM mh CROSS JOIN (SELECT unnest(range(0, {N_BANDS})) AS b)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.b = b.b AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.doc_a, c.doc_b,
         CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
         / len(list_distinct(list_concat(x.shingles, y.shingles))) AS jac
  FROM cand c JOIN sh x ON c.doc_a = x.doc_id JOIN sh y ON c.doc_b = y.doc_id
)
SELECT 'minhash_lsh' AS method, doc_a, doc_b, round(jac, 6) AS score
FROM verified WHERE jac >= {JACCARD_T}
"""


def _mixer(seed):
    # NB: must be a 1-arg lambda — a 2-arg lambda would receive the
    # array INDEX as its 2nd argument from F.transform.
    return lambda x: (x * (seed * 1009 + 1) + (seed * 2027 + 3)) % MOD

def token_hashes(docs):
    """(doc_id, th array<bigint>) from any (doc_id, text, ...) frame —
    the distinct-vocab token hash build, factored so streaming batches
    (streaming/incremental_dedup.py) reuse the exact batch arithmetic.

    The interpreted per-character hash fold runs ONCE PER DISTINCT TOKEN
    (a tiny vocabulary dimension), not once per token occurrence:
    posexplode -> distinct-token hash -> broadcast join back -> rebuild
    the per-doc hash sequence ordered by position. Measured 2.2x faster
    than folding every occurrence at sf0.1, bit-identical output. A
    flat closed-form expansion of the polynomial (16 CASE terms, no
    fold) was measured SLOWER here (8.7s vs 4.7s at sf0.1): lambda
    bodies inside higher-order functions are evaluated interpreted, so
    the big flat expression per occurrence loses to the short fold, and
    only the distinct-vocab amortization actually removes work. At
    100 TB the vocab dimension outgrows a broadcast; the same plan
    degrades gracefully to a shuffled hash join and the fold work is
    still O(|vocab|), the theoretical minimum.
    """
    # hash-partition by doc_id (not round-robin): spreads the single-file
    # scan the same, and the per-doc reassembly groupBy below then reuses
    # this exchange instead of re-shuffling every token occurrence
    # (measured 1.6x on the build at sf0.1). Width = defaultParallelism
    # (r15): the old literal 32 only matched local[32]; the exchange
    # input is narrow (doc_id, text) but the stage ABOVE it fans out
    # per-token work, so it must track cluster width, not byte size —
    # the fan_out sizing rule.
    pos = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, F.col("doc_id")
    ).select("doc_id", F.posexplode(tokens(F.col("text"))).alias("p", "tok"))
    vhash = (
        pos.select("tok").distinct().select("tok", poly_hash(F.col("tok"), 0).alias("h"))
    )
    return (
        pos.join(F.broadcast(vhash), "tok")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "h"))), lambda s: s["h"]
            ).alias("th")
        )
    )

def shingle_array(th_col=None):
    """Guarded distinct word-3-gram shingle array expression over a
    token-hash array column — the column form of :func:`shingle_sets`,
    factored (r16) so the near-dup entry can derive shingles, grams and
    spans in ONE pass over the token build. Shingle combination uses
    slice+zip_with (NOT element_at in a positional transform) so
    Catalyst's projection collapse can only inline the hash-array
    expression a constant number of times, keeping work O(tokens)/doc."""
    th = F.col("th") if th_col is None else th_col
    n = F.size(th)
    s1 = F.slice(th, F.lit(1), n - F.lit(2))
    s2 = F.slice(th, F.lit(2), n - F.lit(2))
    s3 = F.slice(th, F.lit(3), n - F.lit(2))
    shingles = F.zip_with(
        F.zip_with(s1, s2, lambda x, y: x * 31 + y), s3, lambda x, y: (x * 31 + y) % MOD
    )
    return F.array_distinct(
        # guard: Spark sequence(1, 0) would be DESCENDING, not empty
        F.when(n < SHINGLE_N, F.array().cast("array<bigint>")).otherwise(shingles)
    )


def span_array(th_col=None, mod: int = MOD):
    """Guarded distinct SPAN_K-token rolling-hash span array expression
    (the detect-path form over MOD; the removal path keeps its own
    SPAN_MOD build in span_occurrences). Factored (r16) with
    :func:`shingle_array` for the shared near-dup relation."""
    th = F.col("th") if th_col is None else th_col
    n = F.size(th)
    m = n - F.lit(SPAN_K - 1)
    acc = F.slice(th, F.lit(1), m)
    for k in range(1, SPAN_K):
        acc = F.zip_with(acc, F.slice(th, F.lit(1 + k), m), lambda x, y: x * 31 + y)
    spans = F.transform(acc, lambda x: x % F.lit(mod))
    return F.array_distinct(
        F.when(n < SPAN_K, F.array().cast("array<bigint>")).otherwise(spans)
    )


def shingle_sets(th_df):
    """(doc_id, shingles array<bigint>) from (doc_id, th) — map-only.
    Factored for streaming batch reuse; see :func:`shingle_array`."""
    return th_df.select("doc_id", shingle_array().alias("shingles")).where(
        F.size("shingles") > 0
    )

def minhash_bands(sh):
    """(doc_id, b, band_key) LSH band signatures from (doc_id,
    shingles) — N_BANDS rows per doc. Factored from dedup_minhash_lsh
    so the incremental signature store persists exactly these keys."""
    mh = sh.select(
        "doc_id",
        F.array(
            *[F.array_min(F.transform(F.col("shingles"), _mixer(seed))) for seed in MINHASH_SEEDS]
        ).alias("mh"),
    )
    return mh.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(N_BANDS - 1))).alias("b"),
        F.col("mh"),
    ).select(
        "doc_id",
        "b",
        (
            F.element_at("mh", F.col("b") * 2 + 1) * F.lit(MOD)
            + F.element_at("mh", F.col("b") * 2 + 2)
        ).alias("band_key"),
    )

CC_MAX_ITERS = 15


def star_connected_components(
    edges, max_rounds: int = CC_MAX_ITERS, probe_every: int = 1
):
    """Alternating small-star/large-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond"): per round the
    edge set is rewritten toward star graphs whose centers are the
    component minima — converging in O(log n) rounds instead of the
    graph-diameter rounds plain min-label propagation needs (the upgrade
    VERDICT r2 task #4 called for).

    - large-star(u): every strictly-larger neighbor of u re-points to
      min(N(u) + {u}).
    - small-star(u): every smaller neighbor (and u itself) re-points to
      the minimum of u's smaller neighborhood.

    Each half-round is one groupBy-min + one join (two shuffles/round),
    edge set localCheckpoint'ed so lineage stays flat. Convergence is
    probed every `probe_every` rounds with a single tiny aggregate
    (count + order-independent hash-sum of the edge set);
    exceeding `max_rounds` RAISES rather than silently returning
    unconverged labels (ADVICE r2: the old loop fell through after
    CC_MAX_ITERS with wrong clusters).

    ``probe_every`` defaults to 1 (r15, guide §1 measure-first): the
    probe is one count+hash aggregate over the round's already-
    checkpointed edge set — orders of magnitude cheaper than a round
    (five shuffle stages + an eager checkpoint). With cadence 2 a graph
    that stabilizes at round k ran to the next even round before the
    equality was seen (measured at sf0.1: the minhash graph converged
    at round 2 but ran 4 rounds, 2x the loop cost; cadence 1 returned
    at round 2). Cadence >1 only pays when the probe itself rivals a
    round, which the bounded aggregate never does.

    Returns (parents DataFrame (child, root), rounds_used).
    edges: DataFrame (a, b), undirected, no self loops required.
    """
    spark = edges.sparkSession
    e_ids: set[int] = set()
    e = scoped_checkpoint(
        edges.select(F.col("a").cast("long"), F.col("b").cast("long"))
        .where(F.col("a") != F.col("b"))
        .distinct(),
        e_ids,
    )
    # Checkpoint-block lifecycle: each round's eager checkpoint makes the
    # previous round's blocks dead — free them immediately instead of
    # holding O(rounds) copies of the edge set; the SURVIVING round's
    # blocks (which the returned parents plan reads) are handed to the
    # current scratch owner.

    def signature(df):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev_sig = signature(e)
    rounds = 0
    while rounds < max_rounds:
        # --- large-star: (v, m) for every neighbor v > u, m = min(N(u)+{u})
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least("mb", "a").alias("m"))
        )
        large = (
            sym.where(F.col("b") > F.col("a"))
            .join(mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        # --- small-star on the large-star output: direct edges large->small,
        # re-point each smaller neighborhood (and u) to its minimum
        dl = large.union(large.select(F.col("b").alias("a"), F.col("a").alias("b")))
        down = dl.where(F.col("b") < F.col("a"))
        mins2 = down.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            down.join(mins2, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(mins2.select(F.col("a"), F.col("m").alias("b")))
            .where(F.col("a") != F.col("b"))
            .distinct()
            # checkpoint EVERY round: each round references its input
            # several times (e twice in sym, sym again under the join),
            # so an unmaterialized round is recomputed multiplicatively
            # by the next one — measured 3x slower when checkpointing
            # only at probe points
        )
        new_ids: set[int] = set()
        small = scoped_checkpoint(small, new_ids)
        unpersist_rdd_ids(spark, e_ids)  # previous round superseded
        e, e_ids = small, new_ids
        rounds += 1
        if rounds % probe_every == 0 or rounds == max_rounds:
            sig = signature(e)
            if sig == prev_sig:
                hand_off(spark, e_ids)
                return e, rounds
            prev_sig = sig
    raise RuntimeError(
        f"star_connected_components did not converge in {max_rounds} rounds "
        "— component structure deeper than expected; raise max_rounds "
        "(silent fallthrough would return wrong clusters)"
    )


# ---------------------------------------------------------------------------
# Exact-substring span REMOVAL (Lee et al. 2022 ExactSubstr, the
# transform half; the pair-DETECT half lives in dedup.py). Lives here —
# not in dedup.py — because textstats.text_profile consumes it, and
# dedup.py imports plans.registry: importing these from dedup would
# cycle through plans/__init__ whenever dedup is imported first.
# ---------------------------------------------------------------------------

SPAN_K = 8  # tokens per span (paper uses 50; fixture docs are 10-99 toks)

SPAN_MOD = 10**15
# removal-path modulus (late r11): pair DETECTION tolerates 1/MOD
# collisions (a false pair just gets scored), but span REMOVAL edits
# text, so a birthday collision at MOD=1e6 over ~25k fixture spans
# (~300 expected) would cut genuinely unique text. The raw roll is
# < MOD*31^(K-1) ~ 2.7e16 < 2^63, so a 1e15 modulus is exact int64 in
# both engines and drops the expected collision count to ~3e-7.


def _span_roll_sql(mod: int = MOD) -> str:
    """Rolling polynomial combine of K consecutive token hashes —
    identical nesting to the Spark zip_with chain; exact int64 (token
    hashes < MOD=1e6, so MOD*31^7 ~ 2.7e16 stays far under 2^63)."""
    expr = "th[i]"
    for k in range(1, SPAN_K):
        expr = f"({expr} * 31 + th[i + {k}])"
    return f"({expr}) % {mod}"


def span_occurrences(th_df):
    """(doc_id, s, sp): every SPAN_K-token span occurrence with its
    1-based start position — the shared build of the batch removal
    below and the streaming span store
    (streaming/incremental_substr.py). Map-only slice+zip_with; one
    row per token position."""
    n = F.size("th")
    m = n - F.lit(SPAN_K - 1)
    acc = F.slice(F.col("th"), F.lit(1), m)
    for k in range(1, SPAN_K):
        acc = F.zip_with(
            acc, F.slice(F.col("th"), F.lit(1 + k), m), lambda x, y: x * 31 + y
        )
    return (
        th_df.select("doc_id", "th")
        .where(n >= SPAN_K)
        .select(
            "doc_id",
            F.posexplode(F.transform(acc, lambda x: x % F.lit(SPAN_MOD))).alias(
                "p0", "sp"
            ),
        )
        .select("doc_id", (F.col("p0") + 1).alias("s"), "sp")
    )


def merge_cut_runs(dpos_col):
    """Maximal-run merge of a doc's cut-position set (r12, VERDICT r11
    #3 — the Lee et al. 2022 suffix-array semantics gap): the per-span
    canonical rule can leave a kept fragment SHORTER than SPAN_K
    tokens sandwiched between two cut runs of one long duplicated
    region (boundary spans canonical elsewhere, or unique from
    context). Such a fragment cannot contain a single complete span —
    it is sub-span debris of a region that was duplicated on both
    sides — so fill any gap of < SPAN_K kept tokens between adjacent
    cut positions, turning the interference pattern into ONE
    contiguous maximal run, which is what the suffix-array form
    removes. Gaps of >= SPAN_K kept tokens contain at least one full
    never-duplicated span and stay kept.

    Pure array math over the existing position set (sorted adjacent
    pairs via shifted slices + zip_with — lambdas reference only their
    own params, the r11 HOF-lambda rule): pair (a, b) emits
    [a .. b-1] when b - a <= SPAN_K else [a], so consecutive pairs
    never duplicate a position; the final element is appended once.
    Output stays sorted-distinct ascending."""
    d = F.array_sort(dpos_col)
    npos = F.size(d)
    head = F.slice(d, F.lit(1), npos - 1)
    tail = F.slice(d, F.lit(2), npos - 1)
    filled = F.zip_with(
        head,
        tail,
        lambda a, b: F.when(b - a <= F.lit(SPAN_K), F.sequence(a, b - 1)).otherwise(
            F.array(a)
        ),
    )
    return F.concat(F.flatten(filled), F.slice(d, F.lit(-1), F.lit(1)))


def span_removal_positions(th_df):
    """Per-doc token positions covered by NON-CANONICAL duplicate
    spans — the REMOVAL half of Lee et al. 2022's ExactSubstr (the
    detect half is dedup.dedup_substring_spans): every occurrence of a
    SPAN_K-token span shared anywhere in the corpus (across docs OR
    repeated within one doc) is cut except the single global canonical
    occurrence, min (doc_id, start) — a deterministic struct-min both
    engines replay — then per-doc cut positions merge into contiguous
    maximal runs (:func:`merge_cut_runs`, r12: sub-span kept fragments
    between cut runs are filled, matching the paper's maximal-substring
    removal). Input: any (doc_id, th) token-hash frame; output
    (doc_id, dpos array<int> 1-based deleted positions, n_occ removed
    occurrence count), docs with nothing to remove absent (callers
    left-join).

    Scale shape: occurrence table ~ one row per token (the span build
    is map-only slice+zip_with); the canonical pick is row_number over
    (sp) ordered by (doc_id, s) — every rn >= 2 row is a non-canonical
    occurrence of a span with >= 2 occurrences, so ONE shuffle on sp
    replaces a groupBy + join-back (measured: the agg+join form cost
    2 more exchanges and a cache at sf0.1); then ONE groupBy(doc_id)
    assembles positions. Linear shuffles, no pairwise fan-out anywhere
    (unlike the detect path, removal never joins occurrences against
    each other, so no DF cap is needed and boilerplate spans just
    produce more linear rows — a hot sp key is one big sorted window
    group, salting unnecessary since groups are span-frequency-sized).
    This is the paper's suffix-array workload re-cast as hash
    aggregation."""
    from pyspark.sql import Window

    occ = span_occurrences(th_df)
    w = Window.partitionBy("sp").orderBy("doc_id", "s")
    nonc = (
        occ.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") >= 2)
        .select("doc_id", "s")
    )
    agg = nonc.groupBy("doc_id").agg(
        F.array_distinct(
            F.flatten(
                F.collect_list(F.sequence(F.col("s"), F.col("s") + (SPAN_K - 1)))
            )
        ).alias("dpos"),
        F.count(F.lit(1)).alias("n_occ"),
    )
    return agg.select("doc_id", merge_cut_runs(F.col("dpos")).alias("dpos"), "n_occ")
