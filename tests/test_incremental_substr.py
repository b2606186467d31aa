"""Continuous ExactSubstr span removal (streaming/incremental_substr)
— streamed ≡ batch pins, replay idempotency, and the arrival-order
canonical contract."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from flink_parameter_server_spark.operators._dedup_core import (
    span_removal_positions,
    token_hashes,
)
from flink_parameter_server_spark.streaming.incremental_substr import (
    apply_span_cuts,
    process_substr_batch,
    store_spans,
)

SHARED = "alpha beta gamma delta epsilon zeta eta theta"
WITHIN = "a1 a2 a3 a4 a5 a6 a7 a8"


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _norm(df):
    return {
        r["doc_id"]: (frozenset(r["dpos"]), r["n_occ"]) for r in df.collect()
    }


def test_single_batch_on_empty_store_equals_batch_removal(spark, tmp_path):
    docs = _mk(
        spark,
        [
            (10, f"{SHARED} TAIL1"),
            (11, f"{SHARED} TAIL2"),
            (12, f"{WITHIN} x {WITHIN}"),
            (14, "one two"),
        ],
    )
    got = _norm(process_substr_batch(spark, docs, str(tmp_path / "s"), 0))
    exp = _norm(span_removal_positions(token_hashes(docs)))
    assert got == exp
    assert got, "corpus must actually exercise removals"
    # and the store now holds the batch's canonical spans
    assert store_spans(spark, str(tmp_path / "s")).count() > 0


def test_in_order_batches_equal_whole_corpus_batch_run(spark, tmp_path):
    """Batches arriving in ascending doc_id order: the streamed
    canonical (first arrival) IS the batch canonical (min doc_id), so
    the union of streamed cuts equals the whole-corpus batch run
    exactly."""
    b1 = [(10, f"{SHARED} TAIL1"), (12, f"{WITHIN} x {WITHIN}")]
    b2 = [
        (20, f"{SHARED} TAIL2"),
        (21, "q1 q2 q3 q4 q5 q6 q7 q8 unique tail"),
        (22, "q1 q2 q3 q4 q5 q6 q7 q8 other ending"),
    ]
    store = str(tmp_path / "s")
    got = _norm(process_substr_batch(spark, _mk(spark, b1), store, 1))
    d2 = process_substr_batch(spark, _mk(spark, b2), store, 2)
    got.update(_norm(d2))
    exp = _norm(span_removal_positions(token_hashes(_mk(spark, b1 + b2))))
    assert got == exp
    # doc 20's copy of the batch-1 span and doc 22's copy of 21's span
    # were both cut via the STORE probe (cross-batch), not just rn>=2
    assert 20 in got and 22 in got


def test_replay_same_bid_is_idempotent(spark, tmp_path):
    b1 = [(10, f"{SHARED} TAIL1")]
    b2 = [(20, f"{SHARED} TAIL2"), (21, "q1 q2 q3 q4 q5 q6 q7 q8 end")]
    store = str(tmp_path / "s")
    process_substr_batch(spark, _mk(spark, b1), store, 1)
    first = _norm(process_substr_batch(spark, _mk(spark, b2), store, 2))
    n_spans = store_spans(spark, store).count()
    # at-least-once redelivery: same bid, same payload
    replay = _norm(process_substr_batch(spark, _mk(spark, b2), store, 2))
    assert replay == first, "replay decisions must be bit-identical"
    assert store_spans(spark, store).count() == n_spans, "no double-insert"


def test_out_of_order_arrival_keeps_first_arrival_as_canonical(spark, tmp_path):
    """The documented divergence from batch mode: out of doc_id order,
    the canonical is the earlier ARRIVAL (doc 30), so the later-arriving
    smaller doc_id (5) is cut — where the batch run would cut 30."""
    store = str(tmp_path / "s")
    d1 = _norm(process_substr_batch(spark, _mk(spark, [(30, f"{SHARED} T1")]), store, 1))
    d2 = _norm(process_substr_batch(spark, _mk(spark, [(5, f"{SHARED} T2")]), store, 2))
    assert not d1 and 5 in d2  # streamed: 30 kept, 5 cut
    batch = _norm(
        span_removal_positions(
            token_hashes(_mk(spark, [(30, f"{SHARED} T1"), (5, f"{SHARED} T2")]))
        )
    )
    assert 30 in batch and 5 not in batch  # batch: min doc_id wins


def test_apply_span_cuts_rebuilds_text(spark, tmp_path):
    docs = _mk(
        spark,
        [
            (10, f"{SHARED} TAIL1"),
            (11, f"{SHARED} TAIL2"),
            (13, None),
            (14, "one two"),
        ],
    )
    store = str(tmp_path / "s")
    dec = process_substr_batch(spark, docs, store, 0)
    out = {r["doc_id"]: r for r in apply_span_cuts(docs, dec).collect()}
    assert out[10]["substr_removed_text"] == f"{SHARED} TAIL1"
    assert out[10]["n_dup_spans_removed"] == 0
    assert out[11]["substr_removed_text"] == "TAIL2"
    assert out[11]["n_dup_spans_removed"] == 1
    assert out[11]["n_span_tokens_removed"] == 8
    assert out[13]["substr_removed_text"] is None
    assert out[13]["n_dup_spans_removed"] is None
    assert out[14]["substr_removed_text"] == "one two"


@pytest.mark.slow
def test_compact_span_store(spark, tmp_path):
    """Compaction folds all bid deltas into one distinct-span file:
    probe-identical before/after, a NEW batch's decisions identical
    against the compacted and uncompacted stores, a replayed FOLDED
    bid skips its append (store stable), and compaction of a
    never-ingested store is a no-op."""
    import os

    from flink_parameter_server_spark.streaming.bid_store import folded_bids
    from flink_parameter_server_spark.streaming.incremental_substr import (
        compact_span_store,
    )

    b1 = [(10, f"{SHARED} TAIL1")]
    b2 = [(20, f"{SHARED} TAIL2"), (21, "q1 q2 q3 q4 q5 q6 q7 q8 end")]
    b3 = [(30, f"{SHARED} T3"), (31, "q1 q2 q3 q4 q5 q6 q7 q8 again")]
    plain, compacted = str(tmp_path / "a"), str(tmp_path / "b")
    for store in (plain, compacted):
        process_substr_batch(spark, _mk(spark, b1), store, 1)
        process_substr_batch(spark, _mk(spark, b2), store, 2)
    before = {r["sp"] for r in store_spans(spark, compacted).collect()}
    assert compact_span_store(spark, compacted) == 2
    after = {r["sp"] for r in store_spans(spark, compacted).collect()}
    assert after == before, "compaction must be probe-invariant"
    spans = os.path.join(compacted, "spans")
    assert folded_bids(spark, spans) == {1, 2}
    # one compact dir remains (plus the hidden _folded marker)
    assert [e for e in sorted(os.listdir(spans)) if not e.startswith("_")] == ["compact"]
    # a new batch decides identically against both store forms
    d_plain = _norm(process_substr_batch(spark, _mk(spark, b3), plain, 3))
    d_comp = _norm(process_substr_batch(spark, _mk(spark, b3), compacted, 3))
    assert d_plain == d_comp and 30 in d_comp and 31 in d_comp
    # replay of a FOLDED bid: append skipped, store stable
    n = store_spans(spark, compacted).count()
    process_substr_batch(spark, _mk(spark, b1), compacted, 1)
    assert store_spans(spark, compacted).count() == n
    # second compact folds only the new bid 3
    assert compact_span_store(spark, compacted) == 1
    assert folded_bids(spark, spans) == {1, 2, 3}
    # never-ingested store: no-op
    assert compact_span_store(spark, str(tmp_path / "void")) == 0
