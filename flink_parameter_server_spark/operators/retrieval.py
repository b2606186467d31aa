"""Text retrieval operators (LLM-data-pipeline surface, SURVEY.md §2 D26
adjacency): TF-IDF term weighting, BM25 ranked search, and an inverted
(posting-list) index build.

All three are pure built-in-function programs over the whitespace token
array — explode/groupBy/window, no UDFs — so the hot path is whole-stage
codegen. The shapes are the 100 TB ones: one shuffle on (doc, term) for
term frequencies, one on term for document frequencies; global scalars
(N, avgdl) are 1-row aggregates broadcast into the scoring join, never
driver-side constants.

Float discipline: idf/score use ln() on identical double inputs in both
engines and are rounded to 6dp before any ordering decision, so the
tie-breaks (term asc, doc_id asc) see identical keys.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..functions.text import tokens, tokens_sql
from ..plans.registry import register
from ..scratch import scratch
from ._util import t

# BM25 parameters (standard Robertson/Lucene defaults).
K1 = 1.2
B = 0.75
BM25_TERMS = ("spark", "join", "stream")
TOP_TERMS = 3
TOP_DOCS = 10


def _tf_sql() -> str:
    """DuckDB CTE: (doc_id, tok, tf) term frequencies."""
    return f"""
tk AS (SELECT doc_id, unnest({tokens_sql('text')}) AS tok FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2)
"""


def _tf(spark, sf_dir):
    """(doc_id, tok, tf) term frequencies — one shuffle on (doc_id, tok).
    text_retrieval persists this once and passes it into all three parts
    (same sharing pattern as sketch_point_queries / dedup_near_dup_pairs)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


_TFIDF_SQL_TMPL = f"""
WITH {_tf_sql()},
df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
w AS (
  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
         round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS weight
  FROM tf JOIN df USING (tok) CROSS JOIN n
)
SELECT 'tfidf' AS part, doc_id, tok, tf AS n1, df AS n2, weight AS score,
       rk, CAST(NULL AS VARCHAR) AS postings
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY weight DESC, tok) AS rk
  FROM w
) WHERE rk <= {TOP_TERMS}
"""


def tfidf_top_terms(spark, sf_dir, tf=None):
    """TF-IDF top terms per document: tf from one (doc,term) shuffle, df
    from one term shuffle over the tf relation (already distinct doc x
    term, so count(*) — no second distinct), idf = ln(N/df) with N a
    broadcast 1-row aggregate, per-doc top-3 via row_number. At 100 TB
    both shuffles are the minimum possible for this computation and df
    (|vocab| rows) broadcasts into the scoring join."""
    if tf is None:
        tf = _tf(spark, sf_dir)
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n = t(spark, sf_dir, "documents").agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("weight"),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(F.desc("weight"), F.asc("tok"))
    return (
        w.withColumn("rk", F.row_number().over(win))
        .where(F.col("rk") <= TOP_TERMS)
        .select("doc_id", "tok", "tf", "df", "weight", "rk")
    )


_BM25_SQL_TMPL = f"""
WITH {_tf_sql()},
dl AS (SELECT doc_id, CAST(len({tokens_sql('text')}) AS BIGINT) AS dl FROM documents),
stats AS (SELECT count(*) AS n_docs, avg(dl.dl) AS avgdl FROM dl),
qtf AS (SELECT * FROM tf WHERE tok IN {BM25_TERMS!r}),
df AS (SELECT tok, count(*) AS df FROM qtf GROUP BY 1),
scored AS (
  SELECT q.doc_id,
         sum(CAST(round(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
             * (q.tf * {K1 + 1.0})
             / (q.tf + {K1} * (1.0 - {B} + {B} * dl.dl / s.avgdl)), 6)
             AS DECIMAL(18,6))) AS score,
         count(*) AS n_terms_hit
  FROM qtf q
  JOIN df d USING (tok)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
  GROUP BY q.doc_id
)
SELECT 'bm25' AS part, doc_id, CAST(NULL AS VARCHAR) AS tok,
       n_terms_hit AS n1, CAST(NULL AS BIGINT) AS n2,
       round(CAST(score AS DOUBLE), 6) AS score,
       CAST(NULL AS INT) AS rk, CAST(NULL AS VARCHAR) AS postings
FROM scored
ORDER BY round(CAST(score AS DOUBLE), 6) DESC, doc_id
LIMIT {TOP_DOCS}
"""


def bm25_search(spark, sf_dir, tf=None):
    """BM25 ranked search for a fixed query-term set (k1=1.2, b=0.75,
    Lucene idf): term frequencies filtered to the query terms BEFORE any
    shuffle (predicate pushdown on the exploded stream), document length
    and corpus stats (N, avgdl) as broadcast 1-row aggregates, top-10
    via TakeOrdered (sort+limit), fully deterministic order by (rounded
    score, doc_id). The per-term sum is a float fold over <= |query|
    values per doc — order-independent at this fan-in since every addend
    is computed identically in both engines and the result is rounded
    before ranking."""
    d = t(spark, sf_dir, "documents")
    if tf is None:
        tf = _tf(spark, sf_dir)
    tf = tf.where(F.col("tok").isin(*BM25_TERMS))
    dl = d.select("doc_id", F.size(tokens(F.col("text"))).cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    contrib = idf * (F.col("tf") * F.lit(K1 + 1.0)) / (
        F.col("tf") + F.lit(K1) * (1.0 - B + F.lit(B) * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            # per-term round -> exact decimal sum: fold-order independent
            F.sum(F.round(contrib, 6).cast("decimal(18,6)")).alias("score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .select(
            "doc_id",
            F.round(F.col("score").cast("double"), 6).alias("score"),
            "n_terms_hit",
        )
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(TOP_DOCS)


_INVERTED_SQL_TMPL = f"""
WITH {_tf_sql()}
SELECT 'inverted' AS part, CAST(NULL AS BIGINT) AS doc_id, tok,
       count(*) AS n1, CAST(sum(tf) AS BIGINT) AS n2,
       CAST(NULL AS DOUBLE) AS score, CAST(NULL AS INT) AS rk,
       string_agg(doc_id, ',' ORDER BY doc_id) AS postings
FROM tf
GROUP BY tok
"""


def inverted_index(spark, sf_dir, tf=None):
    """Inverted-index build: term -> document-frequency, total
    occurrences, and the sorted posting list (comma-joined doc ids).
    One shuffle on (doc,term) for tf, one on term to assemble postings
    — sort_array(collect_list(...)) keeps the list deterministic
    without a global sort. At 100 TB posting lists for stop-like terms
    are the skew risk: shard hot terms by doc_id range (salting) and
    concatenate shards, exactly like the salted_sum utility in
    ps/skew.py."""
    if tf is None:
        tf = _tf(spark, sf_dir)
    return tf.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").cast("long").alias("n_occ"),
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
            ),
        ).alias("postings"),
    )


# ---------------------------------------------------------------------------
# BPE merge-vocabulary training (r8) — learn a byte-pair-encoding merge
# table FROM the corpus (Sennrich et al. 2016), as DataFrame ops
# ---------------------------------------------------------------------------

BPE_MERGES = 10


def _bpe_state0_sql() -> str:
    # word-frequency table + initial symbol state: characters joined by
    # DOUBLE spaces, double-space padded — see bpe_merge_vocab for why
    return f"""
  SELECT word, count(*) AS freq,
         '  ' || array_to_string(list_filter(string_split(word, ''), c -> c <> ''), '  ') || '  ' AS state
  FROM (SELECT unnest({tokens_sql('text')}) AS word FROM documents)
  GROUP BY word
"""


def _bpe_sql(n_merges: int = BPE_MERGES) -> str:
    """DuckDB twin of :func:`bpe_merge_vocab` + :func:`bpe_apply`: n
    chained CTE stages, each = pair count -> argmax (cnt desc, a, b) ->
    literal replace; the FINAL state w{n} is each word's segmentation
    under the full learned merge table, so the 'bpe_encode' rows (the
    serving half) read straight out of it. The CASE guard keeps states
    intact when a round's pair supply is exhausted (empty b{k} scalar
    subqueries would otherwise NULL every state via replace(state,
    NULL, NULL)), matching the Spark side's skip of NULL-padded
    merges."""
    ctes = [f"w0 AS MATERIALIZED ({_bpe_state0_sql()})"]
    outs = []
    for k in range(1, n_merges + 1):
        ctes.append(f"""
p{k} AS (
  SELECT pr[1] AS a, pr[2] AS b, sum(freq) AS cnt
  FROM (
    SELECT freq,
           unnest(list_transform(range(1, len(s)), i -> [s[i], s[i + 1]])) AS pr
    FROM (SELECT freq, string_split(trim(state), '  ') AS s FROM w{k - 1}) t0
  ) t1 GROUP BY 1, 2
),
b{k} AS MATERIALIZED (SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1),
w{k} AS MATERIALIZED (
  SELECT word, freq,
         CASE WHEN (SELECT count(*) FROM b{k}) = 0 THEN state
              ELSE replace(state,
                           ' ' || (SELECT a FROM b{k}) || '  ' || (SELECT b FROM b{k}) || ' ',
                           ' ' || (SELECT a FROM b{k}) || (SELECT b FROM b{k}) || ' ')
         END AS state
  FROM w{k - 1}
)""")
        outs.append(
            f"SELECT 'bpe_merges' AS part, CAST({k} AS BIGINT) AS doc_id, "
            f"(SELECT a || b FROM b{k}) AS tok, "
            f"(SELECT CAST(cnt AS BIGINT) FROM b{k}) AS n1, "
            f"CAST(NULL AS BIGINT) AS n2, CAST(NULL AS DOUBLE) AS score, "
            f"CAST({k} AS INTEGER) AS rk, "
            f"(SELECT a || ' ' || b FROM b{k}) AS postings"
        )
    outs.append(
        f"SELECT 'bpe_encode' AS part, CAST(NULL AS BIGINT) AS doc_id, "
        f"word AS tok, CAST(freq AS BIGINT) AS n1, "
        f"CAST(len(string_split(trim(state), '  ')) AS BIGINT) AS n2, "
        f"round(CAST(len(string_split(trim(state), '  ')) AS DOUBLE) "
        f"/ length(word), 6) AS score, "
        f"CAST(NULL AS INTEGER) AS rk, "
        f"array_to_string(string_split(trim(state), '  '), ' ') AS postings "
        f"FROM w{n_merges}"
    )
    return "WITH " + ",".join(ctes) + "\n" + "\nUNION ALL\n".join(outs)


def _bpe_words(spark, sf_dir):
    """(word, freq, state) — the distributed vocab-dimension table both
    BPE trainers start from; state is the double-space symbol encoding
    (see bpe_merge_vocab)."""
    d = t(spark, sf_dir, "documents")
    chars = F.filter(F.split(F.col("word"), ""), lambda c: c != F.lit(""))
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "word",
            "freq",
            F.concat(F.lit("  "), F.array_join(chars, "  "), F.lit("  ")).alias("state"),
        )
        # the word table is vocab-sized (tiny vs the corpus): collapse to
        # few partitions so each driver-probe job pays 4 tasks, not 32
        # (measured 9.3s -> ~4s at sf0.01); at 100 TB keep it
        # partitioned — the loop shape is unchanged
        .coalesce(4)
    )


def _bpe_pair_counts(words):
    """One groupBy(pair) frequency aggregation over the current symbol
    states (map-side combine; the per-round shuffle both trainers
    share)."""
    # adjacent pairs via two shifted slices zipped — each slice
    # evaluates the split ONCE per row, where the previous
    # sequence+element_at form re-split the state per pair element
    # (the outer-reference pitfall, BASELINE.md r11). size(s) >= 1
    # always (split of '' is ['']), so size-1 is never negative and a
    # single-symbol word yields two empty slices -> no pairs — which
    # also retires the descending-sequence(1, 0) gotcha the old guard
    # existed for.
    s = F.split(F.trim(F.col("state")), "  ")
    prs = F.zip_with(
        F.slice(s, 1, F.size(s) - 1),
        F.slice(s, 2, F.size(s) - 1),
        lambda a, b: F.array(a, b),
    )
    return (
        words.select("freq", F.explode(prs).alias("pr"))
        .groupBy(F.col("pr")[0].alias("a"), F.col("pr")[1].alias("b"))
        .agg(F.sum("freq").alias("cnt"))
    )


def bpe_merge_vocab(spark, sf_dir, n_merges: int = BPE_MERGES, words=None):
    """Train a BPE merge table on the corpus: start from characters,
    repeatedly merge the most frequent adjacent symbol pair (weighted
    by corpus word frequency; ties break lexicographically). Returns
    (rank, a, b, merged, cnt) — the merge table a tokenizer ships.

    Spark-first shape: the vocab-dimension (word, freq, state) table is
    distributed; each round is ONE groupBy(pair) count (map-side
    combine) plus a 1-row argmax collect — the same bounded-driver-probe
    pattern as star-CC convergence — and the merge application is a
    map-only literal replace. n_merges rounds total; at 100 TB the word
    table is millions of rows (shuffle on word once, then per-round
    pair shuffles over the shrinking symbol sequences).

    Symbol encoding: symbols are joined and padded with DOUBLE spaces,
    and the merge replaces ' a  b ' -> ' ab '. The single outer spaces
    of the pattern each consume one space of a double gap, so two
    ADJACENT occurrences ('x a b a b y') both match in one left-to-right
    replace pass while self-overlapping runs ('a a a') merge only the
    leftmost pair — exactly classic BPE's scan semantics — and plain
    literal replace() behaves identically in Spark and DuckDB (no
    regex, no lookarounds, which RE2/DuckDB lacks).

    Merge-count bound (VERDICT r8): rank-sequential BPE is one driver
    round PER MERGE by definition, so this entry trains a
    DEMONSTRATION vocabulary (n_merges=10). Real 30k-50k-merge
    vocabularies use :func:`bpe_merge_vocab_batched`, which lands up to
    m symbol-disjoint merges per round (~n/m rounds total) with
    documented, pinned divergence from strict rank order.

    ``words`` (r15): an already-materialized :func:`_bpe_words` frame —
    lets a caller that also serves the encoder half (text_retrieval)
    build the corpus word table ONCE instead of twice; None keeps the
    self-contained build."""
    from ..scratch import tracked_checkpoint

    if words is None:
        words = tracked_checkpoint(_bpe_words(spark, sf_dir))
    merges = []
    for k in range(1, n_merges + 1):
        top = _bpe_pair_counts(words).orderBy(F.col("cnt").desc(), "a", "b").limit(1).collect()
        if not top:
            # pair supply exhausted (empty/degenerate corpus): emit
            # NULL-filled rows for the remaining ranks, matching the
            # oracle's empty-scalar-subquery rows — the degenerate
            # sweep contract is "every entry runs", not "raises"
            merges.extend((j, None, None, None, None) for j in range(k, n_merges + 1))
            break
        a, b, cnt = top[0]["a"], top[0]["b"], top[0]["cnt"]
        merges.append((k, a, b, a + b, cnt))
        # no per-round checkpoint: the lineage is <= n_merges cheap map
        # replaces over the checkpointed base — replaying k of them on
        # the tiny vocab table is faster than materializing each round
        words = words.select(
            "word",
            "freq",
            F.replace(
                F.col("state"), F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")
            ).alias("state"),
        )
    return spark.createDataFrame(
        merges, "rank long, a string, b string, merged string, cnt long"
    )


BPE_BATCH_CAND_MIN = 16  # candidate-window floor (see bpe_merge_vocab_batched)


def bpe_merge_vocab_batched(
    spark, sf_dir, n_merges: int = 100, batch_m: int = 10
):
    """BPE training that lands up to ``batch_m`` merges per driver
    round — the scale path past :func:`bpe_merge_vocab`'s one-round-
    per-merge loop (VERDICT r8: 30k sequential jobs cannot train a real
    vocabulary; ~n/m batched rounds can).

    Per round: ONE pair-count aggregation (identical shuffle to the
    sequential trainer), then a bounded driver probe collects the top
    ``C = max(4*batch_m, BPE_BATCH_CAND_MIN)`` candidate pairs ordered
    (cnt desc, a, b) and greedily selects up to batch_m pairs that are
    pairwise NON-INTERACTING: no selected pair shares a left or right
    symbol with another, AND no selected pair's left or right symbol
    equals an earlier-selected pair's merged output ``a+b`` (r9
    review: without the second condition, selecting ('ab','c') then
    ('abc','d') lets the first replace mint NEW ' abc ' occurrences
    that the second — applied later in the same chained projection —
    consumes, merging occurrences the round's aggregation never
    counted). Non-interacting patterns on the double-space encoding
    cannot overlap or feed each other — each ' a  b ' -> ' ab '
    replace preserves every other selected pair's occurrences and the
    double-gap invariant — so all selected replaces apply in one
    map-only projection and each selected pair's measured count is
    exact. The top-1 pair is always selectable, so every round makes
    progress; rounds re-count, so counts are stale only WITHIN a round.

    Divergence from rank-sequential BPE (documented, pinned in tests):
    classic BPE re-counts after every merge, so a rank-k merge can be
    created by rank-(k-1)'s output; batching freezes counts for up to
    batch_m ranks, which can reorder merges and (rarely) admit a pair
    the sequential path would have starved. ``batch_m=1`` is EXACTLY
    the sequential trainer (pinned). The candidate window C is part of
    the semantics: a pair outside the top C is never selected in that
    round even if disjoint.

    Returns the same (rank, a, b, merged, cnt) schema; rank is the
    global landing order (round-major, cnt-desc within a round). Pair
    exhaustion NULL-pads the remaining ranks exactly like the
    sequential trainer (same n_merges-row shape — the degenerate-sweep
    'every entry runs' contract; r9 review). Wall growth is ~n/m
    rounds * (one shuffle + one C-row collect + one re-checkpoint of
    the vocab-sized word table); each round frees the previous round's
    checkpoint immediately (the star-CC loop discipline — at
    30k-50k-merge scale, keeping every superseded round would pin
    thousands of dead vocab-table copies), receipts in BASELINE.md."""
    from ..scratch import scoped_checkpoint, unpersist_rdd_ids

    round_ids: set[int] = set()
    words = scoped_checkpoint(_bpe_words(spark, sf_dir), round_ids)
    cand_n = max(4 * batch_m, BPE_BATCH_CAND_MIN)
    merges: list[tuple] = []
    while len(merges) < n_merges:
        cand = (
            _bpe_pair_counts(words)
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(cand_n)
            .collect()
        )
        used: set[str] = set()
        chosen: list[tuple] = []
        room = min(batch_m, n_merges - len(merges))
        for r in cand:
            if len(chosen) >= room:
                break
            if r["a"] in used or r["b"] in used:
                continue
            # a selected pair's symbols AND its merged output are all
            # off-limits to later selections this round (see docstring)
            used.update((r["a"], r["b"], r["a"] + r["b"]))
            chosen.append((r["a"], r["b"], r["cnt"]))
        if not chosen:  # pair supply exhausted: NULL-pad remaining ranks
            merges.extend(
                (j, None, None, None, None)
                for j in range(len(merges) + 1, n_merges + 1)
            )
            break
        state = F.col("state")
        for a, b, cnt in chosen:
            merges.append((len(merges) + 1, a, b, a + b, cnt))
            state = F.replace(state, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
        # materialize the round (keeps the next round's probe from
        # replaying an ever-longer replace chain), then free the
        # superseded round — only ONE vocab-table copy stays pinned
        prev_ids, round_ids = round_ids, set()
        words = scoped_checkpoint(
            words.select("word", "freq", state.alias("state")), round_ids
        )
        unpersist_rdd_ids(spark, prev_ids)
    # the result is a driver-local merge list — nothing depends on the
    # final round's checkpoint, so free it too
    unpersist_rdd_ids(spark, round_ids)
    return spark.createDataFrame(
        merges, "rank long, a string, b string, merged string, cnt long"
    )


def bpe_apply(words_df, merges):
    """Tokenize under a LEARNED merge table — the serving half of
    :func:`bpe_merge_vocab` (train once, apply everywhere, like
    ann_index's build/probe split). ``words_df``: any frame with a
    `word` column; ``merges``: [(a, b), ...] in rank order (from the
    trained table). Returns the frame plus `subwords array<string>`
    and `n_subwords`.

    Scale shape: apply the merge chain once per DISTINCT word and join
    back — the same vocab-dimension amortization as token_hashes; the
    chain itself is n_merges map-only literal replaces on the
    double-space encoding (identical scan semantics as training). The
    join back is a plain equi-join on `word`: the vocab side is
    corpus-dependent (a 100 TB corpus has a multi-million-row distinct
    word table), so the planner — AQE at runtime — picks broadcast only
    when the vocab actually fits, and falls back to shuffled join
    otherwise (VERDICT r8: a forced F.broadcast here was the one
    unbounded broadcast in the repo)."""
    chars = F.filter(F.split(F.col("word"), ""), lambda c: c != F.lit(""))
    state = F.concat(F.lit("  "), F.array_join(chars, "  "), F.lit("  "))
    for a, b in merges:
        state = F.replace(state, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    vocab = (
        words_df.select("word")
        .distinct()
        .select("word", F.split(F.trim(state), "  ").alias("subwords"))
    )
    return words_df.join(vocab, "word").withColumn(
        "n_subwords", F.size("subwords")
    )


@register(
    "text_retrieval",
    oracle=f"""
SELECT * FROM ({_TFIDF_SQL_TMPL}) AS tfidf_part
UNION ALL
SELECT * FROM ({_BM25_SQL_TMPL}) AS bm25_part
UNION ALL
SELECT * FROM ({_INVERTED_SQL_TMPL}) AS inverted_part
UNION ALL
SELECT * FROM ({_bpe_sql()}) AS bpe_part
""",
    tags=("D26", "D12", "D13", "D16"),
    doc="The text-retrieval surface in one query discriminated by `part` "
    "(consolidated from tfidf_top_terms / bm25_search / inverted_index — "
    "all three build on the same (doc, term) frequency relation). "
    "'tfidf': per-doc top-3 terms, n1=tf, n2=df, score=tf*ln(N/df). "
    "'bm25': ranked search over a fixed query-term set, n1=n_terms_hit, "
    "score=BM25 (k1=1.2, b=0.75, Lucene idf). 'inverted': posting-list "
    "index, n1=df, n2=total occurrences, postings=sorted doc-id list. "
    "'bpe_merges' (r8): a TRAINED byte-pair-encoding merge table "
    "(Sennrich et al.) — doc_id/rk=merge rank, tok=merged symbol, "
    "n1=weighted pair frequency, postings=the merged pair — learned "
    "from the corpus by iterative most-frequent-pair merging (see "
    "bpe_merge_vocab for the bounded-probe loop and the double-space "
    "encoding that makes the merge a plain literal replace in both "
    "engines). 'bpe_encode' (r9): the SERVING half driver-verified — "
    "bpe_apply tokenizes the corpus vocabulary under the merge table "
    "just trained (tok=word, n1=corpus frequency, n2=subword count, "
    "score=subwords/chars compression ratio, postings=the "
    "segmentation); oracle = the final chained-replace state w{n}, so "
    "any scan-semantics drift between trainer and server is a hash "
    "mismatch. Per-part shuffle/broadcast design documented on the "
    "underlying functions above — the shapes are the minimal "
    "(doc,term) + term shuffles with N/avgdl/df broadcast.",
)
def text_retrieval(spark, sf_dir):
    tf = scratch(_tf(spark, sf_dir))  # one (doc, term) build for all 3 parts
    # guide §2.4: build the corpus word table ONCE for the BPE trainer
    # AND the encoder half (bpe_apply re-derived the same
    # explode+groupBy — one full corpus tokenize shuffle saved).
    # serial: running the trainer's driver-round chain on a driver
    # thread while tf materializes ran 12 % faster at 4 cores but won
    # only 7 of 10 pairs (tools/ab.py warm rep, sf0.1); an overlap must
    # win 8
    from ..scratch import tracked_checkpoint

    tf.count()  # materialize the shared (doc, term) build
    words = tracked_checkpoint(_bpe_words(spark, sf_dir))
    mt = bpe_merge_vocab(spark, sf_dir, words=words)
    null_s = F.lit(None).cast("string")
    tfidf = tfidf_top_terms(spark, sf_dir, tf=tf).select(
        F.lit("tfidf").alias("part"),
        "doc_id",
        "tok",
        F.col("tf").alias("n1"),
        F.col("df").alias("n2"),
        F.col("weight").alias("score"),
        "rk",
        null_s.alias("postings"),
    )
    bm25 = bm25_search(spark, sf_dir, tf=tf).select(
        F.lit("bm25").alias("part"),
        "doc_id",
        null_s.alias("tok"),
        F.col("n_terms_hit").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        "score",
        F.lit(None).cast("int").alias("rk"),
        null_s.alias("postings"),
    )
    inv = inverted_index(spark, sf_dir, tf=tf).select(
        F.lit("inverted").alias("part"),
        F.lit(None).cast("long").alias("doc_id"),
        "tok",
        F.col("df").alias("n1"),
        F.col("n_occ").alias("n2"),
        F.lit(None).cast("double").alias("score"),
        F.lit(None).cast("int").alias("rk"),
        "postings",
    )
    bpe = mt.select(
        F.lit("bpe_merges").alias("part"),
        F.col("rank").alias("doc_id"),
        F.col("merged").alias("tok"),
        F.col("cnt").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        F.lit(None).cast("double").alias("score"),
        F.col("rank").cast("int").alias("rk"),
        F.concat(F.col("a"), F.lit(" "), F.col("b")).alias("postings"),
    )
    # serving half: tokenize the corpus vocabulary under the merge
    # table just trained (mt is a driver-local relation — n_merges
    # rows, no extra job to read it back); NULL-padded exhausted ranks
    # carry no merge, mirroring the oracle's CASE guard. Merge priority
    # is rank order — sort explicitly rather than relying on incidental
    # LocalRelation row order (bpe_apply's segmentation is
    # order-sensitive).
    pairs = [
        (r["a"], r["b"])
        for r in mt.orderBy("rank").collect()
        if r["a"] is not None
    ]
    enc = bpe_apply(words.select("word", "freq"), pairs).select(
        F.lit("bpe_encode").alias("part"),
        F.lit(None).cast("long").alias("doc_id"),
        F.col("word").alias("tok"),
        F.col("freq").alias("n1"),
        F.col("n_subwords").cast("long").alias("n2"),
        F.round(F.col("n_subwords") / F.length("word"), 6).alias("score"),
        F.lit(None).cast("int").alias("rk"),
        F.array_join("subwords", " ").alias("postings"),
    )
    return tfidf.unionByName(bm25).unionByName(inv).unionByName(bpe).unionByName(enc)
