"""Deduplication operators (SURVEY.md §2 D23/D24 + north-star dedup
inventory): exact, MinHash+LSH, SimHash, and n-gram Jaccard.

No reference analog (the reference is an ML library); these are the
LLM-training-data operators the north star requires, built scale-first:

- exact       : hash-groupBy — one shuffle on a 64-hex key.
- MinHash+LSH : shingle -> k seeded minhashes -> banded bucket join.
                Candidate generation is an equi-join on band keys (never
                an all-pairs comparison), verification touches only
                bucket-mates. This is THE 100 TB near-dup pattern.
- SimHash     : 16-bit signature; candidate blocking joins on 4-bit
                chunks (hamming<=3 pairs must share a chunk — pigeonhole).
- n-gram Jaccard: exact verification metric, blocked by (source,
                length-band) to bound pair counts.

Every pseudo-random choice is the shared seeded polynomial hash, so the
DuckDB oracle replays the identical pipeline (FIXTURES.md determinism
rules).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.hashing import MOD, poly_hash  # noqa: F401 (MOD re-exported for tests)
from ..functions.text import tokens
from ..plans.registry import register
from ..scratch import scratch
from ._dedup_core import (  # noqa: F401 — re-exported: the public dedup surface
    CC_MAX_ITERS,
    JACCARD_T,
    MINHASH_SEEDS,
    N_BANDS,
    SHINGLE_N,
    SPAN_K,
    SPAN_MOD,
    _MINHASH_SQL,
    _SH_CTES_SQL,
    _TOKHASH_SQL,
    _minhash_sql,
    _mix_sql,
    _mixer,
    _span_roll_sql,
    minhash_bands,
    shingle_array,
    shingle_sets,
    span_array,
    span_removal_positions,
    star_connected_components,
    token_hashes,
)
from ._util import t

SIMHASH_BITS = 16
SIMHASH_SEED = 4242
HAMMING_T = 3


# ---------------------------------------------------------------------------
# D23 — exact dedup via content hash
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
SELECT 'raw' AS form, sha256(text) AS content_hash,
       min(doc_id) AS keeper_doc_id, count(*) AS n_copies
FROM documents GROUP BY sha256(text)
UNION ALL
SELECT 'normalized' AS form,
       sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_hash,
       min(doc_id) AS keeper_doc_id, count(*) AS n_copies
FROM documents
GROUP BY sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
""",
    tags=("D23",),
    doc="Exact dedup, raw and normalized forms discriminated by `form`. "
    "'raw': sha-256 of the text verbatim. 'normalized' (r3): casefold + "
    "whitespace-collapse + trim before hashing — the key production "
    "pipelines actually dedup on, catching trivial variants (case, "
    "double spaces, trailing newlines) that byte-exact hashing misses. "
    "Keep the smallest doc_id per hash group; one shuffle per form on "
    "the hash; at 100 TB pre-partition by a hash prefix and this is "
    "embarrassingly parallel.",
)
def dedup_exact(spark, sf_dir):
    from ._dedup_core import norm_content_hash

    d = t(spark, sf_dir, "documents")
    raw = d.groupBy(F.sha2("text", 256).alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )
    normalized = d.groupBy(norm_content_hash("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )
    return raw.select(F.lit("raw").alias("form"), "*").unionByName(
        normalized.select(F.lit("normalized").alias("form"), "*")
    )


# ---------------------------------------------------------------------------
# D24 — MinHash + LSH banding near-dup
# ---------------------------------------------------------------------------


def token_hash_arrays(spark, sf_dir):
    """Persisted (doc_id, source, n_chars, th array<bigint>) — the token
    hash sequence per document, shared by minhash, simhash AND ngram
    dedup (one build instead of three). See :func:`token_hashes` for
    the distinct-vocab hash design."""
    docs = t(spark, sf_dir, "documents")
    th = token_hashes(docs.select("doc_id", "text"))
    return (
        scratch(docs.select("doc_id", "source", "n_chars").join(th, "doc_id"))
    )


def hashed_shingles(spark, sf_dir, tha=None):
    """Persisted (doc_id, shingles array<bigint>) — the shared shingle
    stage of minhash and simhash dedup, derived map-only from the
    token-hash arrays (see token_hashes/shingle_sets for the design)."""
    if tha is None:
        tha = token_hash_arrays(spark, sf_dir)
    return scratch(shingle_sets(tha.select("doc_id", "th")))


def near_dup_arrays(spark, sf_dir):
    """ONE persisted relation carrying every per-doc array the four
    text near-dup lanes verify on: (doc_id, source, n_chars, shingles,
    grams, spans) — r16, guide §2.4 (share one exchange/materialization
    instead of four). Previously the entry persisted FOUR relations
    (token-hash arrays, then shingles, bigrams and spans each as its
    own scratch frame re-reading the first), paying four materialization
    passes; the three derived arrays are map-only over the token build,
    so one projection materializes them together and each lane reads a
    column-pruned slice of the single cache. The raw `th` array is NOT
    kept — the lanes only consume the derived arrays, so the combined
    cache is narrower than the old tha cache alone. Per-lane row sets
    are preserved by re-applying each lane's non-empty filter on its
    projection (empty arrays mark docs below that lane's minimum token
    count). Column expressions are the factored single-source builders
    (shingle_array / span_array / gram_array), so the standalone lane
    functions and this relation can never drift apart."""
    docs = t(spark, sf_dir, "documents")
    base = docs.select("doc_id", "source", "n_chars").join(
        token_hashes(docs.select("doc_id", "text")), "doc_id"
    )
    return scratch(
        base.select(
            "doc_id",
            "source",
            "n_chars",
            shingle_array().alias("shingles"),
            gram_array().alias("grams"),
            span_array().alias("spans"),
        )
    )


def dedup_minhash_lsh(spark, sf_dir, sh=None):
    """MinHash-LSH near-dup: word-3-gram shingles hashed two-level
    (char-fold per token once, integer affine mix per hash family —
    8 int ops per shingle instead of 8 char folds), 4 bands of 2 ->
    candidate pairs share a band bucket; exact hashed-shingle Jaccard
    >= 0.4 verifies. MLlib MinHashLSH is the same pipeline with random
    (non-oracle-reproducible) hash families — see tests."""
    if sh is None:
        sh = hashed_shingles(spark, sf_dir)  # persisted: bands + both verify branches reuse it
    bands = minhash_bands(sh)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    y = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    # |union| by inclusion-exclusion (r15, guide §1.2 per-task work):
    # shingles are array_distinct'ed SETS, so |a ∪ b| = |a| + |b| - |a ∩ b|
    # exactly — one O(n) hash-set pass per candidate pair instead of two,
    # integer arithmetic, value-identical jaccard
    isz = F.size(F.array_intersect("sh_a", "sh_b"))
    verified = (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                isz.cast("double")
                / (F.size("sh_a") + F.size("sh_b") - isz)
            ).alias("jac"),
        )
    )
    return verified.where(F.col("jac") >= JACCARD_T).select(
        F.lit("minhash_lsh").alias("method"),
        "doc_a",
        "doc_b",
        F.round("jac", 6).alias("score"),
    )


# ---------------------------------------------------------------------------
# D24 variant — SimHash near-dup
# ---------------------------------------------------------------------------

def _simhash_sql() -> str:
    """16-bit simhash: per-bit majority vote over distinct-token hash bits."""
    votes = " + ".join(
        f"(CASE WHEN sum(((h >> {b}) & 1) * 2 - 1) > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return votes


_SIMHASH_PAIRS_SQL = f"""
WITH {_SH_CTES_SQL},
hs AS (
  SELECT doc_id, {_mix_sql('x', SIMHASH_SEED)} AS h
  FROM (SELECT doc_id, unnest(shingles) AS x FROM sh)
),
sig AS (SELECT doc_id, {_simhash_sql()} AS simhash FROM hs GROUP BY doc_id),
chunks AS (
  SELECT doc_id, simhash, c, (simhash >> (c * 4)) & 15 AS chunk_val
  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS c)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM chunks a JOIN chunks b
    ON a.c = b.c AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
)
SELECT 'simhash' AS method, doc_a, doc_b,
       CAST(bit_count(xor(sh_a, sh_b)) AS DOUBLE) AS score
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {HAMMING_T}
"""


def dedup_simhash(spark, sf_dir, sh=None):
    """SimHash near-dup: 16-bit signature from per-bit majority votes of
    distinct word-3-gram shingle hashes (token-level votes are degenerate
    on small vocabularies); shares the integer hashed-shingle stage with
    minhash (affine seed-mix, the shingle hash map is bijective mod the
    prime so distinctness is preserved); candidate blocking on 4-bit
    chunks (pigeonhole: hamming<=3 pairs share an exact chunk), verify
    by XOR popcount. Score = hamming distance (as double, to align with
    the similarity scores of the sibling methods).

    Scale note (same fixed-key-cardinality analysis as the ngram
    strategies): the chunk bucket space is 4 x 2^4 here — per-bucket
    membership grows linearly with the corpus, so raw candidates grow
    quadratically at extreme scale. The production knob is signature /
    chunk WIDTH (64-bit simhash with 4 x 16-bit chunks = 4 x 65536
    buckets, the classic Google-crawl configuration), which this plan
    shape accommodates by changing SIMHASH_BITS/chunk constants only;
    16-bit is sized to this fixture's tiny vocabulary, where wider
    signatures would leave every bucket a singleton and the oracle
    pair set empty."""
    if sh is None:
        sh = hashed_shingles(spark, sf_dir)
    hs = sh.select("doc_id", F.explode("shingles").alias("x")).select(
        "doc_id", _mixer(SIMHASH_SEED)(F.col("x")).alias("h")
    )
    sig = hs.groupBy("doc_id").agg(
        sum(
            F.when(
                F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1)) * 2 - 1) > 0, F.lit(1 << b)
            ).otherwise(F.lit(0))
            for b in range(SIMHASH_BITS)
        ).alias("simhash")
    )
    # shiftright needs a literal bit count -> build the 4 chunk values
    # statically and posexplode (c, chunk_val) together
    chunks = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[F.shiftright("simhash", 4 * c).bitwiseAND(F.lit(15)) for c in range(4)]
            )
        ).alias("c", "chunk_val"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .where(F.col("hamming") <= HAMMING_T)
        .select(
            F.lit("simhash").alias("method"),
            "doc_a",
            "doc_b",
            F.col("hamming").cast("double").alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-substring span dedup (Lee et al. 2022 "Deduplicating Training
# Data Makes Language Models Better" — the ExactSubstr shape, re-cast
# as DataFrame ops: a shared k-token span IS an exact repeated
# substring, up to rolling-hash collision at 1/MOD)
# ---------------------------------------------------------------------------

SPAN_DF_CAP = 50  # drop spans present in more docs (boilerplate guard)
# SPAN_K / _span_roll_sql / SPAN_MOD / span_removal_positions live in
# _dedup_core (imported above): textstats.text_profile consumes the
# REMOVAL half, and importing it from here would cycle through
# plans/__init__ when this module is imported first.


_SUBSTR_SQL = f"""
WITH th AS MATERIALIZED (SELECT doc_id, {_TOKHASH_SQL} AS th FROM documents),
spans AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(th) - {SPAN_K - 1} + 1),
           i -> {_span_roll_sql()})) AS spans
  FROM th WHERE len(th) >= {SPAN_K}
),
se AS (SELECT doc_id, unnest(spans) AS sp FROM spans),
sdf AS (SELECT sp, count(*) AS c FROM se GROUP BY sp),
sef AS (
  SELECT se.doc_id, se.sp FROM se JOIN sdf ON se.sp = sdf.sp
  WHERE sdf.c BETWEEN 2 AND {SPAN_DF_CAP}
),
sp_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM sef a JOIN sef b ON a.sp = b.sp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
ns AS (SELECT doc_id, len(spans) AS n FROM spans)
SELECT 'substring' AS method, doc_a, doc_b,
       round(CAST(shared AS DOUBLE) / least(na.n, nb.n), 6) AS score
FROM sp_pairs
JOIN ns na ON doc_a = na.doc_id JOIN ns nb ON doc_b = nb.doc_id
"""


def dedup_substring_spans(spark, sf_dir, tha=None, spans_df=None):
    """Exact-substring near-dup: two docs pair iff they share >= 1
    k-token span (rolling hash of k consecutive token hashes — an
    exact repeated substring up to 1/MOD collisions); score = shared
    distinct spans / min(spans_a, spans_b), a containment measure that
    hits 1.0 when one doc's text is contained in the other.

    Scale shape: span build is map-only over the shared token-hash
    arrays; ONE groupBy(span) computes document frequency and the
    DF cap (2..SPAN_DF_CAP) both drops boilerplate spans (the
    quadratic hot keys — headers, licenses — exactly what the paper
    trims) and bounds per-span fan-out to cap^2/2 pairs, so the
    pair-generating equi-join never degenerates; final pair agg is one
    shuffle on (doc_a, doc_b). No all-pairs path at any scale.
    """
    if spans_df is not None:
        # an already-persisted (doc_id, spans) frame — the column-pruned
        # projection of near_dup_arrays' shared relation (r16); empty
        # arrays mark docs under SPAN_K tokens, filtered here so the row
        # set matches the standalone build exactly
        spans = spans_df.where(F.size("spans") > 0)
    else:
        if tha is None:
            tha = token_hash_arrays(spark, sf_dir)
        spans = scratch(
            tha.select("doc_id", span_array().alias("spans")).where(
                F.size("spans") > 0
            )
        )
    se = spans.select("doc_id", F.explode("spans").alias("sp"))
    sdf = se.groupBy("sp").agg(F.count(F.lit(1)).alias("c"))
    sef = se.join(
        sdf.where((F.col("c") >= 2) & (F.col("c") <= SPAN_DF_CAP)).select("sp"), "sp"
    )
    a = sef.select(F.col("doc_id").alias("doc_a"), "sp")
    b = sef.select(F.col("doc_id").alias("doc_b"), "sp")
    pairs = (
        a.join(b, ["sp"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    ns = spans.select("doc_id", F.size("spans").alias("n_spans"))
    return (
        pairs.join(ns.select(F.col("doc_id").alias("doc_a"), F.col("n_spans").alias("na")), "doc_a")
        .join(ns.select(F.col("doc_id").alias("doc_b"), F.col("n_spans").alias("nb")), "doc_b")
        .select(
            F.lit("substring").alias("method"),
            "doc_a",
            "doc_b",
            F.round(
                F.col("shared").cast("double") / F.least("na", "nb"), 6
            ).alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard within blocks (exact verification metric)
# ---------------------------------------------------------------------------

_NGRAM_SQL = f"""
WITH th AS MATERIALIZED (
  SELECT doc_id, source, n_chars, {_TOKHASH_SQL} AS th FROM documents
),
g AS MATERIALIZED (
  SELECT doc_id, source, n_chars,
         list_distinct(list_transform(range(1, len(th)),
           i -> (th[i] * 31 + th[i + 1]) % {MOD})) AS grams
  FROM th WHERE len(th) >= 2
)
SELECT 'ngram_jaccard' AS method, a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS score
FROM g a JOIN g b
  ON a.source = b.source AND a.doc_id < b.doc_id
 AND abs(a.n_chars - b.n_chars) <= 30
WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.3
"""


NGRAM_BAND = 30  # length-band width == the |n_chars| pairing tolerance


NGRAM_JT = 0.3  # bigram-Jaccard near-dup threshold

# auto-chooser safety margin: prefix filtering pays two extra exchanges
# (gram-df join + per-doc reassembly) over banding, so it must project
# CLEARLY fewer candidates before auto picks it
PREFIX_MARGIN = 0.5


def gram_array(th_col=None):
    """Guarded distinct hashed word-bigram array expression over a
    token-hash array column — the single-source gram builder shared by
    :func:`ngram_grams_frame` and :func:`near_dup_arrays` (r16)."""
    th = F.col("th") if th_col is None else th_col
    n = F.size(th)
    b1 = F.slice(th, F.lit(1), n - F.lit(1))
    b2 = F.slice(th, F.lit(2), n - F.lit(1))
    return F.array_distinct(
        F.when(n < 2, F.array().cast("array<bigint>")).otherwise(
            F.zip_with(b1, b2, lambda x, y: (x * 31 + y) % MOD)
        )
    )


def ngram_grams_frame(tha):
    """(doc_id, source, n_chars, band, grams) — hashed word-bigram sets
    per doc, the shared input of both candidate strategies AND the auto
    profiler (factored out so tests can profile arbitrary corpora)."""
    return tha.select(
        "doc_id",
        "source",
        "n_chars",
        F.expr(f"n_chars div {NGRAM_BAND}").alias("band"),
        gram_array().alias("grams"),
    ).where(F.size("grams") > 0)


def choose_ngram_strategy(g) -> tuple[str, dict]:
    """Pick the n-gram candidate-generation strategy ('band' vs
    'prefix') from CORPUS STATISTICS instead of a caller-supplied string
    (VERDICT r6 next-round #3: at 100 TB the right default flips on
    Zipfian text, and a real user otherwise gets the fixture-tuned one).

    `g` is the grams frame (doc_id, source, n_chars, band,
    grams array<bigint>). Two cheap bounded profiles estimate each
    strategy's raw candidate-pair count:

    - band estimate: sum over (source, length-band) blocks of
      3*c*(c-1)/2 — each doc probes its own and both adjacent bands, so
      ~3x the intra-block pairs assuming neighbor blocks are similar
      sized. ONE aggregation, one-row collect.
    - prefix estimate: prefix filtering indexes each doc's
      (1-t)*|grams|+1 globally-rarest grams, so its candidate count is
      dominated by the df-ascending head of the gram-df distribution.
      Profile = log2-binned df histogram of the gram df table (<= ~40
      rows collected), walked in ascending-df order accumulating
      df*(df-1)/2 pairs until the global postings budget
      (1-t)*total_occurrences + n_docs is spent, pro-rating the last
      bin. On Zipfian text most grams are df<=2 and this stays tiny; on
      a small-vocabulary corpus even the rarest grams carry
      hundreds-of-docs lists and the estimate correctly explodes.

    Both profile jobs are keyed aggregations over the (already scratch-
    cached) grams frame; the collects are bounded (1 row + <=~40 bins)
    per the same convention as the star-CC convergence probe. Returns
    (strategy, profile_dict) so tests/logging can see the evidence.
    """
    band_row = (
        g.groupBy("source", "band")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.coalesce(F.sum(F.expr("3.0 * c * (c - 1) / 2")), F.lit(0.0)).alias("pairs"),
            F.coalesce(F.sum("c"), F.lit(0)).alias("n_docs"),
            F.coalesce(F.max("c"), F.lit(0)).alias("max_block"),
        )
        .collect()[0]
    )
    band_est, n_docs = float(band_row["pairs"]), int(band_row["n_docs"])

    flat = g.select(F.explode("grams").alias("gram"))
    hist = (
        flat.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .groupBy(F.floor(F.log2("df")).alias("bin"))
        .agg(
            F.sum("df").alias("postings"),
            F.sum(F.expr("df * (df - 1) / 2.0")).alias("pairs"),
        )
        .orderBy("bin")
        .collect()
    )
    total_postings = sum(int(r["postings"]) for r in hist)
    budget = (1.0 - NGRAM_JT) * total_postings + n_docs
    prefix_est, spent = 0.0, 0.0
    for r in hist:
        p, pr = float(r["postings"]), float(r["pairs"])
        if spent + p <= budget:
            prefix_est += pr
            spent += p
        else:  # pro-rate the bin that crosses the budget (linear in
            # the fraction of its grams taken)
            prefix_est += pr * max(0.0, (budget - spent) / p)
            break
    strategy = "prefix" if prefix_est < PREFIX_MARGIN * band_est else "band"
    profile = {
        "band_est_pairs": band_est,
        "prefix_est_pairs": prefix_est,
        "n_docs": n_docs,
        "max_block": int(band_row["max_block"]),
        "total_gram_postings": total_postings,
        "strategy": strategy,
    }
    return strategy, profile


# Memoized auto decisions, keyed on (applicationId, corpus_key): the
# choice is a query-COMPILATION property of the corpus (like AQE
# statistics), so a long-lived session profiles each corpus once, not
# once per query. applicationId, not id(spark) — a stopped session's
# address can be reused by a new one and a dict keyed on it would serve
# stale entries (ADVICE r6 on similarity._SCAN_PARTS). A corpus
# REWRITTEN in place at the same path within one session keeps its old
# decision; call choose_ngram_strategy directly to re-profile.
_NGRAM_STRATEGY_MEMO: dict[tuple[str, str], str] = {}


def dedup_ngram_jaccard(
    spark, sf_dir, tha=None, strategy: str = "auto", corpus_key: str | None = None,
    g=None,
):
    """Word-bigram Jaccard near-dup over hashed bigrams; candidate
    generation selectable, exact verification (source equality,
    |n_chars| <= NGRAM_BAND, Jaccard >= NGRAM_JT) always the same, so
    both strategies return the identical pair set (pinned by
    tests/test_round2_ops.py::test_ngram_prefix_strategy_same_pairs)
    and the range-join oracle is unchanged.

    ``strategy='auto'`` (default since r7, VERDICT r6 #3): profile the
    corpus with choose_ngram_strategy and pick whichever of the two
    candidate generators projects fewer raw pairs (prefix must win by
    PREFIX_MARGIN to pay for its extra exchanges). Auto is a pure
    strategy SELECTOR — either choice returns the identical pair set —
    so correctness is strategy-independent and only wall time rides on
    the decision. The fixture corpus profiles to 'band' (tiny
    vocabulary, fat inverted lists); Zipfian real text profiles to
    'prefix' (pinned both ways in tests/test_round2_ops.py). The
    decision is memoized per (applicationId, corpus_key) — see
    _NGRAM_STRATEGY_MEMO — so a session profiles each corpus once
    (~0.6 s of bounded aggregations at sf0.1), not once per query;
    callers passing a custom `tha` get no memo unless they also pass a
    `corpus_key` identifying the corpus.

    ``strategy='band'``: equi-join on (source, n_chars div
    NGRAM_BAND), probe side exploded to bands {b-1, b, b+1}, exact
    +-NGRAM_BAND filter post-join (the r3 plan upgrade over the raw
    abs() theta join, which generated |source-block|^2 pairs).

    ``strategy='prefix'``: PREFIX FILTERING (AllPairs/PPJoin family —
    Bayardo et al. WWW'07, Chaudhuri et al. ICDE'06). Lossless: fix any
    global total order on grams and index only each doc's first
    ``|g| - ceil(t*|g|) + 1`` grams; for a pair with J >= t, the
    smallest common gram has at most ``|a| - |a^b|`` predecessors in a
    (everything before it is non-shared) and ``|a^b| >= ceil(t*|a|)``,
    so it lies in BOTH prefixes and the (gram, source) equi-join finds
    the pair. Ordering by ascending global df puts rare grams in
    prefixes, so inverted lists track content collisions.

    Which one scales is a VOCABULARY property, measured in the r6
    third-decade rehearsal: banding's key has fixed cardinality, so its
    raw-pair count grows quadratically with corpus size — on real
    Zipfian text prefix filtering is the asymptotic winner (most grams
    are rare). But THIS fixture's synthetic text has a ~1k-gram
    vocabulary at sf0.1: even the rarest prefix grams carry
    hundreds-of-docs inverted lists, candidates degenerate (455k vs
    banding's ~74k) and banding wins at every measured scale (0.7 s vs
    10.6 s at sf0.1; 7 s vs 25 s at ~sf1) — which is exactly what the
    auto profile detects without being told. Both
    paths are keyed equi-joins with no unbounded broadcast; the df
    table is one count aggregation, the per-doc ordering one keyed
    reassembly."""
    if g is None:
        if tha is None:
            tha = token_hash_arrays(spark, sf_dir)
            corpus_key = corpus_key or sf_dir  # default corpus IS sf_dir docs
        g = scratch(ngram_grams_frame(tha))
    # else: g is an already-persisted grams frame (a column-pruned
    # projection of near_dup_arrays' shared relation — r16)

    if strategy == "auto":
        memo_key = (
            (spark.sparkContext.applicationId, corpus_key) if corpus_key else None
        )
        if memo_key is not None and memo_key in _NGRAM_STRATEGY_MEMO:
            strategy = _NGRAM_STRATEGY_MEMO[memo_key]
        else:
            strategy, _ = choose_ngram_strategy(g)
            if memo_key is not None:
                _NGRAM_STRATEGY_MEMO[memo_key] = strategy

    if strategy == "band":
        probes = g.select(
            F.col("doc_id").alias("doc_b"),
            F.col("source").alias("src_b"),
            F.col("n_chars").alias("nc_b"),
            F.col("grams").alias("grams_b"),
            F.explode(
                F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)
            ).alias("pband"),
        )
        verified = (
            g.join(
                probes,
                (F.col("source") == F.col("src_b"))
                & (F.col("band") == F.col("pband"))
                & (F.col("doc_id") < F.col("doc_b")),
            )
            .where(F.abs(F.col("n_chars") - F.col("nc_b")) <= NGRAM_BAND)
            # grams are array_distinct'ed sets: |union| by
            # inclusion-exclusion — one array pass, value-identical.
            # r16: the intersection size is computed ONCE in a prior
            # projection (was twice in one expression, relying on
            # codegen CSE to dedup the O(n) array pass).
            .select(
                F.col("doc_id").alias("doc_a"),
                "doc_b",
                F.size("grams").alias("sz_a"),
                F.size("grams_b").alias("sz_b"),
                F.size(F.array_intersect("grams", "grams_b")).alias("sz_i"),
            )
            .select(
                "doc_a",
                "doc_b",
                (F.col("sz_i").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("sz_i"))).alias("jac"),
            )
        )
    elif strategy == "prefix":
        flat = g.select("doc_id", "source", F.explode("grams").alias("gram"))
        df_tab = flat.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
        # per-doc grams ordered by (global df asc, gram): the df join
        # shuffles by gram, the reassembly by doc_id — the same
        # exchange pattern as the shared token build
        ordered = (
            flat.join(df_tab, "gram")
            .groupBy("doc_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("df", "gram"))),
                    lambda s: s["gram"],
                ).alias("og"),
                F.first("source").alias("source"),
            )
        )
        plen = (F.size("og") - F.ceil(F.lit(NGRAM_JT) * F.size("og")) + 1).cast(
            "int"
        )
        inv = ordered.select(
            "doc_id", "source", F.explode(F.slice("og", F.lit(1), plen)).alias("gram")
        )
        cand = (
            inv.alias("a")
            .join(
                inv.alias("b"),
                (F.col("a.gram") == F.col("b.gram"))
                & (F.col("a.source") == F.col("b.source"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        ga = g.select(
            F.col("doc_id").alias("doc_a"), F.col("n_chars").alias("nc_a"), "grams"
        )
        gb = g.select(
            F.col("doc_id").alias("doc_b"),
            F.col("n_chars").alias("nc_b"),
            F.col("grams").alias("grams_b"),
        )
        verified = (
            cand.join(ga, "doc_a")
            .join(gb, "doc_b")
            .where(F.abs(F.col("nc_a") - F.col("nc_b")) <= NGRAM_BAND)
            # same inclusion-exclusion rewrite as the band strategy,
            # intersection size computed once in a prior projection (r16)
            .select(
                "doc_a",
                "doc_b",
                F.size("grams").alias("sz_a"),
                F.size("grams_b").alias("sz_b"),
                F.size(F.array_intersect("grams", "grams_b")).alias("sz_i"),
            )
            .select(
                "doc_a",
                "doc_b",
                (F.col("sz_i").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("sz_i"))).alias("jac"),
            )
        )
    else:
        raise ValueError(f"unknown ngram candidate strategy {strategy!r}")

    return verified.where(F.col("jac") >= NGRAM_JT).select(
        F.lit("ngram_jaccard").alias("method"),
        "doc_a",
        "doc_b",
        F.round("jac", 6).alias("score"),
    )


def _near_dup_oracle() -> str:
    from ..functions.planes import EMB_NEAR_DUP_SQL, SEMANTIC_PAIRS_SQL

    return f"""
SELECT * FROM ({_MINHASH_SQL}) AS minhash_part
UNION ALL
SELECT * FROM ({_SIMHASH_PAIRS_SQL}) AS simhash_part
UNION ALL
SELECT * FROM ({_NGRAM_SQL}) AS ngram_part
UNION ALL
SELECT * FROM ({_SUBSTR_SQL}) AS substr_part
UNION ALL
SELECT 'embedding' AS method, doc_a, doc_b, score FROM ({EMB_NEAR_DUP_SQL}) AS emb_part
UNION ALL
SELECT 'semantic' AS method, vec_a AS doc_a, vec_b AS doc_b, cos_sim AS score
FROM ({SEMANTIC_PAIRS_SQL}) AS sem_part
"""


@register(
    "dedup_near_dup_pairs",
    oracle=_near_dup_oracle(),
    tags=("D24", "D25"),
    doc="Every near-duplicate pair detector in one query discriminated by "
    "`method` (consolidated from dedup_minhash_lsh / dedup_simhash / "
    "dedup_ngram_jaccard / embedding_near_dup_pairs — same (a, b, score) "
    "shape, and the shingle stages share the persisted hashed-shingle "
    "relation so the merged query scans documents once per "
    "representation instead of once per entry). 'minhash_lsh': banded "
    "bucket equi-join + exact Jaccard verify (score = jaccard). "
    "'simhash': 4-bit-chunk pigeonhole blocking + XOR popcount (score = "
    "hamming distance). 'ngram_jaccard': corpus-profiled blocking "
    "(strategy='auto' since r7 picks (source, length-band) banding vs "
    "PPJoin prefix filtering from a gram-df profile, memoized per "
    "corpus) + exact bigram Jaccard. 'substring' (r8): the "
    "ExactSubstr shape of Lee et al. 2022 — shared k-token rolling-"
    "hash spans with a document-frequency cap on hot (boilerplate) "
    "spans, score = span containment. 'embedding': cosine >= 0.40 "
    "within random-hyperplane LSH buckets. 'semantic' (r9): the "
    "SemDeDup shape of Abbas et al. 2023 — candidates share an IVF "
    "coarse cell (learned-partition blocking instead of random "
    "hyperplanes; sampled k-means at real scale), cosine >= 0.422 "
    "inside the cell; the keep-least-central prune rule is "
    "similarity.semdedup_prune (tested against a driver-side "
    "reference). Per-method docstrings on the underlying functions in "
    "this module and operators/similarity.py.",
)
def dedup_near_dup_pairs(spark, sf_dir):
    from .similarity import embedding_near_dup_pairs, embedding_semantic_pairs

    # serial: building the six method branches on driver threads ran
    # 6 % faster at 4 cores (tools/ab.py warm rep, sf0.1, 5 pairs),
    # under the 10 % an overlap must earn.
    # r16 (guide §2.4): the four text lanes previously persisted FOUR
    # relations (token-hash arrays + separate shingle/gram/span frames,
    # three extra materialization passes re-reading the first). ONE
    # shared relation (near_dup_arrays) now carries all three derived
    # arrays — one materialization pass, each lane reads a
    # column-pruned projection of the single cache; per-lane row sets
    # and values unchanged (single-source column builders + the lanes'
    # own non-empty filters).
    rel = near_dup_arrays(spark, sf_dir)
    sh = rel.select("doc_id", "shingles").where(F.size("shingles") > 0)
    g = rel.select(
        "doc_id",
        "source",
        "n_chars",
        F.expr(f"n_chars div {NGRAM_BAND}").alias("band"),
        "grams",
    ).where(F.size("grams") > 0)
    spans_df = rel.select("doc_id", "spans")

    return (
        dedup_minhash_lsh(spark, sf_dir, sh=sh)
        .unionByName(dedup_simhash(spark, sf_dir, sh=sh))
        .unionByName(dedup_ngram_jaccard(spark, sf_dir, corpus_key=sf_dir, g=g))
        .unionByName(dedup_substring_spans(spark, sf_dir, spans_df=spans_df))
        .unionByName(
            embedding_near_dup_pairs(spark, sf_dir).select(
                F.lit("embedding").alias("method"),
                F.col("vec_a").alias("doc_a"),
                F.col("vec_b").alias("doc_b"),
                F.col("cos_sim").alias("score"),
            )
        )
        .unionByName(
            embedding_semantic_pairs(spark, sf_dir).select(
                F.lit("semantic").alias("method"),
                F.col("vec_a").alias("doc_a"),
                F.col("vec_b").alias("doc_b"),
                F.col("cos_sim").alias("score"),
            )
        )
    )


# ---------------------------------------------------------------------------
# D23/D24 — near-dup clustering: connected components -> canonical doc
# ---------------------------------------------------------------------------



@register(
    "dedup_cluster_canonical",
    oracle=None,  # set below: composes the registered minhash-pair oracle
    tags=("D23", "D24"),
    doc="Near-dup clustering, discriminated by `space`. 'text': connected "
    "components over the MinHash-LSH pair graph via alternating "
    "small-star/large-star moves (Kiveris et al.) — ~log n rounds, two "
    "shuffles per round, edge set localCheckpoint'ed for flat lineage; "
    "canonical doc per cluster = min doc_id, singletons map to "
    "themselves. Convergence probed every 2 rounds with one tiny "
    "count+hash aggregate (not a per-round driver job); non-convergence "
    "within CC_MAX_ITERS RAISES instead of returning wrong clusters. "
    "'semantic' (r9): the SemDeDup KEEP RULE over the embedding space — "
    "components of the IVF-cell semantic pair graph (the hash-pinned "
    "method='semantic' generator), cluster = min member id, but "
    "is_canonical marks the member LEAST similar to its cell centroid "
    "(Abbas et al.'s diversity-preserving rule; ranked on the 6dp-"
    "ROUNDED centroid cosine so both engines order identically, ties -> "
    "lowest id) — the keeper a SemDeDup prune keeps, vs the min-id "
    "canonical the text space keeps. Oracle: DuckDB WITH RECURSIVE "
    "transitive closure over the identical (seeded, replayable) pair "
    "sets — min reachable id per node, plus the rounded-cosine keep "
    "rank for the semantic space.",
)
def dedup_cluster_canonical(spark, sf_dir):
    # r15 optimization: the text (minhash) and semantic (IVF-cell) pair
    # graphs are INDEPENDENT, so both run through ONE fused star-CC loop
    # instead of two — the edge sets live in disjoint encoded id spaces
    # (text doc_id -> 2*id, semantic vec_id -> 2*id+1; x -> 2x preserves
    # the per-space min order, so each space's components and min-id
    # roots are exactly what its standalone CC computes, and components
    # can never bridge spaces). Halves the driver rounds / eager
    # checkpoints / convergence probes of the entry's dominant cost
    # (measured 8.6 -> 7.0 s at sf0.1 before the probe-cadence fix
    # stacked on top). Precondition: ids < 2^62 (fixture ids and any
    # row-number-derived id space; a hash-derived 63-bit id space would
    # need a wider encoding).
    from .similarity import _semantic_pairs, embeddings_normed, ivf_assign, semdedup_prune

    text_pairs = dedup_minhash_lsh(spark, sf_dir).select(
        (F.col("doc_a") * 2).alias("a"), (F.col("doc_b") * 2).alias("b")
    )
    # the same assignment semdedup_prune would build standalone (its
    # zero-norm exclusion contract documented there)
    assign = scratch(
        ivf_assign(embeddings_normed(spark, sf_dir), keep_centroid_cos=True).where(
            F.col("ne") > 0
        )
    )
    sem_pairs = _semantic_pairs(assign).select(
        (F.col("vec_a") * 2 + 1).alias("a"), (F.col("vec_b") * 2 + 1).alias("b")
    )
    parents, _ = star_connected_components(text_pairs.unionByName(sem_pairs))
    # integer decode (r16, ADVICE r15): x >> 1 inverts both encodings
    # exactly (2*id -> id, 2*id+1 -> id) over the full documented
    # id < 2^62 range; the previous double division was only exact
    # below 2^53. Components never bridge spaces, so a and b always
    # share the parity selected on `a`.
    tparents = parents.where(F.col("a") % 2 == 0).select(
        F.shiftright("a", 1).alias("a"), F.shiftright("b", 1).alias("b")
    )
    sparents = parents.where(F.col("a") % 2 == 1).select(
        F.shiftright("a", 1).alias("a"), F.shiftright("b", 1).alias("b")
    )
    labels = (
        t(spark, sf_dir, "documents")
        .select("doc_id")
        .join(tparents.select(F.col("a").alias("doc_id"), F.col("b").alias("root")), "doc_id", "left")
        .select("doc_id", F.coalesce("root", "doc_id").alias("cluster"))
    )
    text = labels.select(
        F.lit("text").alias("space"),
        "doc_id",
        "cluster",
        (F.col("doc_id") == F.col("cluster")).cast("int").alias("is_canonical"),
    )
    sem = semdedup_prune(spark, sf_dir, assign=assign, _parents=sparents).select(
        F.lit("semantic").alias("space"),
        F.col("vec_id").alias("doc_id"),
        F.col("component").alias("cluster"),
        F.col("keep").alias("is_canonical"),
    )
    return text.unionByName(sem)


def _install_cc_oracle() -> None:
    """Compose the CC oracle from the minhash-pair oracle SQL: DuckDB
    WITH RECURSIVE transitive closure, min reachable id per node.
    Embeds _MINHASH_SQL verbatim (single source of truth for the pair
    set, shared with dedup_near_dup_pairs' minhash branch)."""
    import dataclasses

    from ..plans.registry import REGISTRY

    from ..functions.planes import IVF_CENT_SQL, SEMANTIC_PAIRS_SQL, nearest_sql
    from ..functions.vectors import cosine_sql, norm2_sql

    mh = _MINHASH_SQL
    sassign_src = (
        f"embeddings e\n    CROSS JOIN {IVF_CENT_SQL} c\n"
        f"    WHERE {norm2_sql('e.embedding')} > 0"
    )
    cc = f"""
WITH RECURSIVE
pairs AS ({mh}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
reach AS (
  SELECT doc_id AS src, doc_id AS dst FROM documents
  UNION
  SELECT r.src, e.b AS dst FROM reach r JOIN edges e ON r.dst = e.a
),
sem_pairs AS ({SEMANTIC_PAIRS_SQL}),
sedges AS (
  SELECT vec_a AS a, vec_b AS b FROM sem_pairs
  UNION ALL
  SELECT vec_b AS a, vec_a AS b FROM sem_pairs
),
sassign AS (
{nearest_sql('vec_id, round(cos_c, 6) AS cos_c',
             f"e.vec_id, {cosine_sql('e.embedding', 'c.cv')} AS cos_c", 'e.vec_id',
             'e.embedding', 'c.cv', 'c.cid', sassign_src)}
),
sreach AS (
  SELECT vec_id AS src, vec_id AS dst FROM sassign
  UNION
  SELECT r.src, e.b AS dst FROM sreach r JOIN sedges e ON r.dst = e.a
),
scc AS (SELECT src AS vec_id, min(dst) AS cluster FROM sreach GROUP BY src),
skeep AS (
  SELECT s.vec_id, c.cluster,
         row_number() OVER (PARTITION BY c.cluster
                            ORDER BY s.cos_c ASC, s.vec_id) AS rk
  FROM sassign s JOIN scc c ON s.vec_id = c.vec_id
)
SELECT 'text' AS space, src AS doc_id, min(dst) AS cluster,
       CAST(src = min(dst) AS INT) AS is_canonical
FROM reach GROUP BY src
UNION ALL
SELECT 'semantic' AS space, vec_id AS doc_id, cluster,
       CAST(rk = 1 AS INT) AS is_canonical
FROM skeep
"""
    spec = REGISTRY["dedup_cluster_canonical"]
    REGISTRY["dedup_cluster_canonical"] = dataclasses.replace(spec, oracle=cc)


_install_cc_oracle()
