"""Gopher Table A1 threshold gate (r13, VERDICT r12 #2): per-rule
sole-rejector corpus, first-failing-rule labeling, Spark/DuckDB gate
parity, and the fixture receipt behind GOPHER_FIXTURE_RULES.

Corpus design notes (why some rules cannot be STRICTLY sole under the
published definitions):
- a duplicated PARAGRAPH is always a set of duplicated LINES with the
  same characters, so dup_para_char_frac > 0.2 forces
  dup_line_char_frac > ~0.2 — the para-char rule can never be the
  first-failing rule of the full set; it is pinned via the rule-subset
  parameter instead (and its full-set label is asserted to be the
  line-level rule, the correct first fail).
- dup_{6..10}gram rules CAN be strictly sole: a duplicated n-window
  duplicates its (n-1)-subwindows, but both cover the same token
  positions, so the char-coverage fractions are EQUAL — placing that
  fraction inside (threshold_n, threshold_{n-1}] fails exactly rule n.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_parameter_server_spark.operators._gopher_core import (
    GOPHER_FIXTURE_RULES,
    GOPHER_REQUIRED_WORDS,
    GOPHER_RULES,
    gopher_gate_sql,
    gopher_reason_case_sql,
    gopher_reason_frame,
    gopher_signal_frame,
)

SIG_COLS = sorted({s for _, cl in GOPHER_RULES for s, _, _ in cl})


def _fill(tag: str, k: int, ln: int = 6) -> list[str]:
    """k distinct alphabetic filler words of length ~ln, unique per tag."""
    return [f"{tag}{i:0{ln - len(tag)}d}" for i in range(k)]


def _spread(base: list[str], insert: list[str], every: int) -> list[str]:
    out, j = [], 0
    for i, w in enumerate(base):
        out.append(w)
        if i % every == every - 1 and j < len(insert):
            out.append(insert[j])
            j += 1
    out.extend(insert[j:])
    return out


def _corpus():
    """[(doc_id, text, target_rule|None, strict)] — one violator per
    rule; `strict` means the target is the ONLY failing rule."""
    docs = []

    def add(text, target, strict=True):
        docs.append((len(docs), text, target, strict))

    add(" ".join(["the", "of"] + _fill("base", 60)), None)  # 0: passes all
    add(" ".join(["the", "of"] + _fill("wc", 30)), "word_count")
    two = [a + b for a in "cdfghjklmnpqrs" for b in "aeiou"][:58]
    add(" ".join(["the", "of"] + two), "mean_word_len")
    add(" ".join(_spread(["the", "of"] + _fill("sym", 60), ["#"] * 8, 7)),
        "symbol_word_ratio")
    bl = _fill("blt", 50)
    add("\n".join("- " + ("the of " if i == 0 else "") +
                  " ".join(bl[i * 5:(i + 1) * 5]) + " "
                  for i in range(10)),
        "bullet_line_frac")
    el = _fill("ell", 60)
    add("\n".join(" ".join(el[i * 6:(i + 1) * 6]) +
                  ("..." if i < 4 else "") + (" the of" if i == 9 else "")
                  for i in range(10)),
        "ellipsis_line_frac")
    add(" ".join(["the", "of"] + _fill("alp", 45) +
                 [str(900 + i) for i in range(15)]),
        "alpha_word_frac")
    add(" ".join(["the"] + _fill("stp", 60)), "stopwords")
    # 8: dup_line_frac — five tiny duplicate 'zz' lines (trailing-space
    # line style keeps whitespace tokens intact), 4/12 lines removed,
    # removed chars negligible
    dl = _fill("dln", 63)
    lines = [" ".join(dl[i * 9:(i + 1) * 9]) + (" the of " if i == 0 else " ")
             for i in range(7)]
    lines[6:6] = ["zz "] * 5
    add("\n".join(lines), "dup_line_frac")
    # 9: dup_para_frac — 1 of 3 paragraphs duplicated (1/3 > 0.3) while
    # the line-count fraction stays at 3/12 = 0.25 (blank separator
    # lines duplicate once, the dup para's two short lines once each)
    pa = _fill("par", 48)
    para_a = "\n".join(("the of " if i == 0 else "") +
                       " ".join(pa[i * 6:(i + 1) * 6]) for i in range(8))
    para_b = "qa qb \nqc qd "
    add(para_a + "\n\n" + para_b + "\n\n" + para_b, "dup_para_frac")
    # 10: dup_line_char_frac — two BIG single-token lines duplicated:
    # 2/9 lines removed (<= 0.3) but ~24% of characters
    big_a, big_b = "A" * 140, "B" * 140
    fl = _fill("big", 114, ln=4)
    toks = (["the", "of"] + fl[:28] + [f"\n{big_a}\n"] + fl[28:56]
            + [f"\n{big_a}\n"] + fl[56:84] + [f"\n{big_b}\n"]
            + fl[84:110] + [f"\n{big_b}\n"] + fl[110:])
    add(" ".join(toks), "dup_line_char_frac")
    # 11: dup_para_char_frac — a duplicated BIG paragraph; NOT strict
    # (its lines duplicate with the same chars, so the line-level
    # count/char rules fire first — see module docstring)
    pf = _fill("pch", 40)
    big_p = "P" * 120
    add(" ".join(["the", "of"] + pf) + "\n\n" + big_p + "\n\n" + big_p,
        "dup_para_char_frac", strict=False)
    # 12-14: top_{2,3,4}gram — a dominant word n-gram repeated with
    # DISTINCT neighbors so no higher-n window duplicates
    t2 = _fill("tga", 50)
    add(" ".join(_spread(["the", "of"] + t2, ["abcdef ghijkl"] * 10, 5)),
        "top_2gram_char_frac")
    t3 = _fill("tgb", 40)
    add(" ".join(_spread(["the", "of"] + t3, ["aaaa bbbb cccc"] * 6, 6)),
        "top_3gram_char_frac")
    t4 = _fill("tgc", 45)
    add(" ".join(_spread(["the", "of"] + t4, ["aa bb cc dd"] * 7, 6)),
        "top_4gram_char_frac")
    # 15-20: dup_{5..10}gram — ALL tokens 4 chars ('that'/'have' are
    # the two required words, both 4 chars), one duplicated n-window;
    # char coverage = 2n/N exactly, placed in (thr_n, thr_{n-1}]
    # every token EXACTLY 4 chars so char coverage is 2n/N exactly:
    # fillers "<letter>NNN", window tokens "k<n%10>NN"
    tags = {5: "v", 6: "w", 7: "x", 8: "y", 9: "z", 10: "u"}
    for n, N in ((5, 60), (6, 84), (7, 105), (8, 130), (9, 160), (10, 190)):
        win = [f"k{n % 10}{j:02d}" for j in range(n)]
        fill = _fill(tags[n], N - 2 * n - 2, ln=4)
        mid = len(fill) // 2
        toks = (["that", "have"] + fill[:mid] + win + fill[mid:mid + 20]
                + win + fill[mid + 20:])
        add(" ".join(toks), f"dup_{n}gram_char_frac")
    return docs


def _py_fails(row) -> list[str]:
    """Evaluate every Table A1 rule clause in Python from a signal-frame
    row — the independent oracle for sole-ness and first-fail order."""
    out = []
    for name, clauses in GOPHER_RULES:
        hit = False
        for sig, op, bound in clauses:
            v = row[sig]
            if v is None:
                continue
            b = float(bound)
            if (op == "<" and v < b) or (op == ">" and v > b):
                hit = True
        if hit:
            out.append(name)
    return out


@pytest.fixture(scope="module")
def gate_corpus(spark):
    docs = _corpus()
    df = spark.createDataFrame(
        [(i, t) for i, t, _, _ in docs], "doc_id long, text string"
    )
    sig = {
        r["doc_id"]: r
        for r in gopher_signal_frame(df).select("doc_id", *SIG_COLS).collect()
    }
    return docs, df, sig


def test_each_rule_is_the_sole_rejector(spark, gate_corpus):
    docs, df, sig = gate_corpus
    # (a) python-evaluated sole-ness per doc
    for i, _, target, strict in docs:
        fails = _py_fails(sig[i])
        if target is None:
            assert fails == [], f"doc {i} (clean) fails {fails}"
        else:
            assert target in fails, f"doc {i}: {target} not in {fails}"
            if strict:
                assert fails == [target], f"doc {i}: not sole — {fails}"
    # (b) the full-set gate labels every doc with its first failing rule
    reasons = {
        r["doc_id"]: r["g_reason"]
        for r in gopher_reason_frame(df, True).collect()
    }
    for i, _, target, strict in docs:
        fails = _py_fails(sig[i])
        want = fails[0] if fails else None
        assert reasons[i] == want, f"doc {i}: {reasons[i]} != {want}"
        if strict and target is not None:
            assert reasons[i] == target
    # (c) single-rule subsets label exactly the target (covers the
    # para-char rule the full set can never reach) — one job, one CASE
    # column per rule over the shared signal frame
    single = gopher_signal_frame(df).selectExpr(
        "doc_id",
        *[
            f"{gopher_reason_case_sql((name,))} AS r_{name}"
            for name, _ in GOPHER_RULES
        ],
    )
    rows = {r["doc_id"]: r for r in single.collect()}
    for i, _, target, _ in docs:
        if target is None:
            for name, _ in GOPHER_RULES:
                assert rows[i][f"r_{name}"] is None
        else:
            assert rows[i][f"r_{target}"] == target, f"doc {i}"
    # clean doc passes the full set too
    assert reasons[0] is None


def test_gate_spark_duckdb_parity(spark, duck, gate_corpus):
    """The SAME corpus through gopher_gate_sql's DuckDB CTE chain must
    label every doc identically to the Spark gate (the cross-engine pin
    behind the curate oracle extension)."""
    import pandas as pd

    docs, df, _ = gate_corpus
    duck.register("gdocs_py", pd.DataFrame(
        {"doc_id": [i for i, *_ in docs], "text": [t for _, t, *_ in docs]}
    ))
    sql = (
        "WITH gd AS (SELECT doc_id, text FROM gdocs_py),\n"
        + gopher_gate_sql("gd", True)
        + "\nSELECT doc_id, reason FROM greason"
    )
    want = {i: r for i, r in duck.execute(sql).fetchall()}
    got = {
        r["doc_id"]: r["g_reason"]
        for r in gopher_reason_frame(df, True).collect()
    }
    assert got == want


def test_null_text_cross_engine(spark, duck):
    """ADVICE r13: NULL text must label identically in both engines.
    With ANSI off, Spark size(NULL toks) is -1 (so an unguarded
    n_ws_tokens fires word_count) while DuckDB len(NULL) is NULL; with
    ANSI on both are NULL — with the n_ws_tokens guard both engines
    see NULL numeric signals and n_req_stop = 0, so the first failing
    rule is 'stopwords' in BOTH (unreachable via corpus_curate's
    structural stage 1, but the public helpers must not drift)."""
    import pandas as pd

    txt = " ".join(["the", "of"] + _fill("nul", 60))
    df = spark.createDataFrame(
        [(0, None), (1, txt)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["g_reason"] for r in gopher_reason_frame(df, True).collect()
    }
    duck.register(
        "ndocs_py", pd.DataFrame({"doc_id": [0, 1], "text": [None, txt]})
    )
    sql = (
        "WITH nd AS (SELECT doc_id, text FROM ndocs_py),\n"
        + gopher_gate_sql("nd", True)
        + "\nSELECT doc_id, reason FROM greason"
    )
    want = {i: r for i, r in duck.execute(sql).fetchall()}
    assert got == want
    assert got[0] == "stopwords" and got[1] is None


def _english_corpus():
    """[(text, expect)] — an English-realistic synthetic corpus for the
    FULL published rule set (VERDICT r13 #3): every doc that should
    pass the gate carries the required function words at natural rates
    ("the of" / "that have"), so 'stopwords' discriminates instead of
    rejecting wholesale (the fixture-vocabulary failure mode behind
    GOPHER_FIXTURE_RULES). Rows: the per-rule violators of
    :func:`_corpus` (each still structural-passing), plus gate-passing
    docs that exercise every LATER pipeline stage — exact dup, near
    dup, eval contamination, semantic dup — and enough clean survivors
    that the stratified split emits all three split labels. `expect`
    is the end-to-end corpus_curate decision ('accepted' folds
    train/valid/test), or None when the doc's tile is split-dependent."""
    rows = []

    def clean(tag, k=60):
        return " ".join(["the", "of"] + _fill(tag, k))

    # the per-rule violators, re-labeled with their full-set decision
    for i, text, target, strict in _corpus():
        if target is None:
            rows.append((text, None))
        elif strict:
            rows.append((text, f"rejected:quality:{target}"))
        else:
            # dup_para_char_frac can never be the full set's first
            # failure (module docstring) — expect its first fail
            rows.append((text, "__first_fail__"))
    rows.append(("too short", "rejected:quality"))  # structural reject
    for k in range(12):  # clean survivors for split diversity
        # letter-only tags: f-string padding would otherwise collide
        # "cl1"+3 digits with "cl10"+2 digits (found the hard way)
        rows.append((clean(f"c{chr(97 + k)}"), None))
    ex = clean("exd")
    rows.append((ex, None))  # exact keeper (lower doc_id)
    rows.append((ex, "rejected:exact_dup"))
    nd = clean("ndp")
    rows.append((nd, None))  # near-dup keeper
    rows.append((nd + " tail01 tail02", "rejected:near_dup"))
    rows.append((clean("sma"), None))  # semantic pair: identical
    rows.append((clean("smb"), "rejected:semantic_dup"))  # embeddings
    return rows, clean("evx")  # + the eval-holdout doc to contaminate


@pytest.mark.slow
def test_full_published_set_end_to_end(spark, duck, tmp_path):
    """VERDICT r13 #3: the FULL Table A1 rule set (including
    'stopwords') through the ENTIRE batch pipeline, its streaming dual,
    and the DuckDB oracle, on an English-realistic corpus:

    - corpus_curate(quality_rules=True) labels every strict violator
      'rejected:quality:<rule>' — every published rule except the
      documented dup_para_char entanglement fires END-TO-END, and
      'stopwords' rejects exactly its violator (not the corpus);
    - every later stage stays alive downstream of the full gate
      (exact/near/contaminated/semantic rejections + all three splits);
    - the DuckDB curate_oracle_sql twin with quality_rules=True
      reproduces every decision (the full-set cross-engine gate pin);
    - curate_batch(quality_rules=True) streamed == batch per doc.
    """
    import numpy as np
    import pandas as pd

    from flink_parameter_server_spark.functions.hashing import KNUTH, MOD
    from flink_parameter_server_spark.functions.hashing import int_hash_sql
    from flink_parameter_server_spark.functions.planes import SEMANTIC_PAIRS_SQL
    from flink_parameter_server_spark.operators._dedup_core import _MINHASH_SQL
    from flink_parameter_server_spark.operators.curate import (
        CURATE_EVAL_J,
        CURATE_EVAL_MOD,
        CURATE_SEED,
        corpus_curate,
        curate_oracle_sql,
        is_eval_holdout,
    )
    from flink_parameter_server_spark.streaming.incremental_curate import curate_batch
    from flink_parameter_server_spark.streaming.incremental_dedup import (
        build_signature_store,
    )

    def is_eval(i):
        h = ((i + 1) * KNUTH + (CURATE_EVAL_J + 1) * 40503 + CURATE_SEED * 97) % MOD
        return h % CURATE_EVAL_MOD == 0

    rows, eval_text = _english_corpus()
    non_eval = [i for i in range(400) if not is_eval(i)]
    eval_id = next(i for i in range(400) if is_eval(i))
    ids = non_eval[: len(rows)]
    docs = [(ids[j], t, e) for j, (t, e) in enumerate(rows)]
    # the contaminated doc: near-dups the eval-holdout doc's text
    contam_id = non_eval[len(rows)]
    docs.append((contam_id, eval_text + " tail03 tail04", "rejected:contaminated"))
    docs.append((eval_id, eval_text, "eval_holdout"))
    all_ids = sorted(i for i, _, _ in docs)

    # embeddings: seeded gaussian directions (pairwise |cos| << the
    # 0.422 semantic threshold — asserted), with the semantic pair
    # forced IDENTICAL so exactly one semantic rejection fires
    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((len(all_ids), 128)).astype("float32")
    pos = {i: p for p, i in enumerate(all_ids)}
    sem_a = next(i for i, t, _ in docs if " sma" in t)
    sem_b = next(i for i, t, _ in docs if " smb" in t)
    vecs[pos[sem_b]] = vecs[pos[sem_a]]
    nv = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = nv @ nv.T
    np.fill_diagonal(cos, 0.0)
    cos[pos[sem_a], pos[sem_b]] = cos[pos[sem_b], pos[sem_a]] = 0.0
    assert float(np.abs(cos).max()) < 0.42, "accidental semantic pair"

    sf = str(tmp_path / "sf_en")
    spark.createDataFrame(
        [(i, t, "en", "synth", len(t)) for i, t, _ in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")
    spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": all_ids,
                "embedding": [vecs[pos[i]].tolist() for i in all_ids],
                "label": [0] * len(all_ids),
            }
        ),
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.parquet(f"{sf}/embeddings.parquet")

    got = {
        r["doc_id"]: r["split"]
        for r in corpus_curate(spark, sf, quality_rules=True).collect()
    }
    sig = {
        r["doc_id"]: r
        for r in gopher_signal_frame(
            spark.createDataFrame(
                [(i, t) for i, t, _ in docs], "doc_id long, text string"
            )
        )
        .select("doc_id", *SIG_COLS)
        .collect()
    }
    fired = set()
    for i, _, expect in docs:
        if expect == "__first_fail__":
            expect = f"rejected:quality:{_py_fails(sig[i])[0]}"
        if expect is None:
            assert got[i] in ("train", "valid", "test"), f"doc {i}: {got[i]}"
        else:
            assert got[i] == expect, f"doc {i}: {got[i]} != {expect}"
        fired.add(got[i])
    # every published rule fires end-to-end except the documented
    # para-char entanglement; all three splits + all four dup stages
    want_rules = {
        f"rejected:quality:{name}"
        for name, _ in GOPHER_RULES
        if name != "dup_para_char_frac"
    }
    assert want_rules <= fired
    assert {
        "train", "valid", "test", "eval_holdout", "rejected:quality",
        "rejected:exact_dup", "rejected:near_dup",
        "rejected:contaminated", "rejected:semantic_dup",
    } <= fired

    # DuckDB oracle parity on the IDENTICAL full-set pipeline
    for tbl in ("documents", "embeddings"):
        duck.execute(
            f"CREATE OR REPLACE VIEW {tbl} AS "
            f"SELECT * FROM read_parquet('{sf}/{tbl}.parquet/*.parquet')"
        )
    want = {
        r[0]: r[3]
        for r in duck.execute(
            curate_oracle_sql(
                _MINHASH_SQL,
                int_hash_sql("doc_id", 0, CURATE_SEED),
                SEMANTIC_PAIRS_SQL,
                quality_rules=True,
            )
        ).fetchall()
    }
    assert got == want

    # streaming dual: same full-set decisions per doc (no semantic
    # stage wired here — that equivalence is pinned separately — so
    # semantic_dup folds to accepted on both sides of the compare)
    d = spark.read.parquet(f"{sf}/documents.parquet")
    build_signature_store(
        spark,
        d.where(is_eval_holdout()).select("doc_id", "text"),
        str(tmp_path / "eval_store"),
    )
    streamed = {
        r["doc_id"]: r["decision"]
        for r in curate_batch(
            spark,
            d.where(~is_eval_holdout()).select("doc_id", "text", "n_chars"),
            str(tmp_path / "store"),
            str(tmp_path / "eval_store"),
            quality_rules=True,
        ).collect()
    }
    batch_want = {
        i: (
            "accepted"
            if v in ("train", "valid", "test", "rejected:semantic_dup")
            else v
        )
        for i, v in got.items()
        if v != "eval_holdout"
    }
    assert streamed == batch_want and "rejected:quality:stopwords" in set(
        streamed.values()
    )


def test_gate_cross_engine_fuzz_unicode(spark, duck):
    """Seeded unicode fuzz of the full-set gate parity (late r14): 60
    random docs over an adversarial alphabet — bullets, ellipses (both
    forms), newlines/paragraph breaks, NBSP, CJK, emoji, digits,
    required function words, '#', empty-ish strings — must label
    IDENTICALLY through gopher_reason_frame and gopher_gate_sql. One
    Spark job for the whole corpus; deterministic seed."""
    import random

    import pandas as pd

    rng = random.Random(20260816)
    words = (
        list(GOPHER_REQUIRED_WORDS)
        + _fill("fz", 40)
        + ["#", "...", "…", "•", "-", "*", "42", "3.14", "日本語", "мир",
           "naïve", "🦆", "a", "zz", "word...", "•bullet", "N B"]
    )
    seps = [" ", " ", " ", " ", "\n", "\n", "\n\n", " \n", "\n ", "  "]
    docs = []
    for i in range(60):
        n = rng.randint(0, 140)
        parts = []
        for _ in range(n):
            parts.append(rng.choice(words))
            parts.append(rng.choice(seps))
        # occasional verbatim duplicate lines/paragraphs to hit the
        # dup_* signal families
        txt = "".join(parts)
        if i % 7 == 3 and "\n" in txt:
            first = txt.split("\n", 1)[0]
            txt = first + "\n" + txt + "\n" + first
        if i % 11 == 5:
            txt = txt + "\n\n" + txt
        docs.append((i, txt))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: r["g_reason"] for r in gopher_reason_frame(df, True).collect()
    }
    duck.register(
        "fz_py",
        pd.DataFrame({"doc_id": [i for i, _ in docs], "text": [t for _, t in docs]}),
    )
    sql = (
        "WITH fz AS (SELECT doc_id, text FROM fz_py),\n"
        + gopher_gate_sql("fz", True)
        + "\nSELECT doc_id, reason FROM greason"
    )
    want = {i: r for i, r in duck.execute(sql).fetchall()}
    assert got == want
    # the fuzz actually exercises the gate: several distinct rules fire
    assert len({v for v in got.values() if v}) >= 3, sorted(set(got.values()))


def test_fixture_stopword_receipt(spark):
    """The receipt behind GOPHER_FIXTURE_RULES: the synthetic fixture
    vocabulary contains at most ONE of the eight required English
    function words, so the published stopword-containment rule alone
    rejects every document — which is why the flagship 'curated' part
    runs the Table A1 set minus 'stopwords' (the rule itself is
    exercised above)."""
    from flink_parameter_server_spark.operators._util import t
    from tests.conftest import SF_SMALL

    d = t(spark, SF_SMALL, "documents").select("doc_id", "text")
    n = d.count()
    rej = (
        gopher_reason_frame(d, ("stopwords",))
        .where(F.col("g_reason") == "stopwords")
        .count()
    )
    assert rej == n
    assert GOPHER_FIXTURE_RULES == tuple(
        name for name, _ in GOPHER_RULES if name != "stopwords"
    )
    assert GOPHER_REQUIRED_WORDS == (
        "the", "be", "to", "of", "and", "that", "have", "with"
    )
