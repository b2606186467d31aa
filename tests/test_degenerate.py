"""Degenerate-input regression tests (r6 probe findings).

Each fixture derives one degenerate variant of the sf0.001 fixtures
(tests/fixture_dirs.py DEGENERATE: empty / 1-row slices, nulls, key
skew, multibyte text, timestamp ties, IEEE specials, empty text). The
r6 sweep of the full registry over the empty / 1-row slices found one
crash class — the negative-sampling draw mod hitting a zero/empty
item-key domain (ps/queries.py max_item). The default tests pin that
fix, an empty-tables smoke over a structurally diverse entry subset and
one oracle pin per axis; the full 50-entry sweep per variant is the
slow test at the end (BASELINE.md "R11 end-of-round FULL degenerate
matrix" and "Extreme-skew rehearsal" keep the earlier sweep receipts).
"""

import pytest

from flink_parameter_server_spark.plans import REGISTRY
from tests.conftest import SF_SMALL
from tests.fixture_dirs import DEGENERATE, derive

# one entry per structural family: scan+agg, broadcast join, seeded-draw
# sampling, banded near-dup, bucketed ANN, as-of window, driver-loop trainer
SMOKE = [
    "pricing_summary",
    "revenue_by_nation",
    "mf_negative_samples",
    "dedup_near_dup_pairs",
    "embedding_ann_topk",
    "purchase_last_click_asof",
]


@pytest.fixture(scope="module")
def one_row_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("degen") / "one")
    return derive(spark, SF_SMALL, out, DEGENERATE["rows1"])


@pytest.fixture(scope="module")
def empty_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("degen") / "empty")
    return derive(spark, SF_SMALL, out, DEGENERATE["rows0"])


def test_negative_sampling_survives_degenerate_item_domain(spark, one_row_dir):
    # fixture part keys start at 0, so a 1-row slice gives max(p_partkey)=0:
    # pre-fix the draw mod crashed with REMAINDER_BY_ZERO; post-fix the mod
    # base clamps to 1 and every draw drops out of the item join
    n = REGISTRY["mf_negative_samples"].fn(spark, one_row_dir).count()
    assert n == 0


def test_trainers_survive_degenerate_item_domain(spark, one_row_dir):
    # ps_train_epochs feeds the same draw build (mf_neg family) — the same
    # crash pre-fix; post-fix it trains on positives with zero negatives
    n = REGISTRY["ps_train_epochs"].fn(spark, one_row_dir).count()
    assert n > 0  # factor rows for the 1-row positives still materialize


@pytest.fixture(scope="module")
def nulls_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("degen") / "nulls")
    return derive(spark, SF_SMALL, out, DEGENERATE["nulls"])


def test_multimodal_skips_null_payloads(spark, nulls_dir):
    # pre-fix: len(None) in the frame/decode UDF batches crashed the
    # Python worker; post-fix null-payload rows drop at the scan AND in
    # the UDF batches, so only rows with a payload produce output
    df = REGISTRY["multimodal_pipeline"].fn(spark, nulls_dir)
    assert df.where("doc_id % 2 = 0").count() == 0  # nulled parity class gone
    assert df.count() > 0


def test_sequential_trainer_skips_null_instances(spark, nulls_dir):
    # pre-fix: np.stack over a column with null embeddings crashed the
    # stateful stream; post-fix null instances drop in pa.instances
    n = REGISTRY["online_ps_sequential"].fn(spark, nulls_dir).count()
    assert n > 0


def test_text_profile_oracle_parity_on_null_text(spark, nulls_dir):
    # the full-text polynomial hash diverged on NULL text (DuckDB's
    # list_prepend(seed, NULL) -> [seed] folds to the seed; Spark's
    # aggregate over NULL -> NULL) — poly_hash_sql now guards with a
    # CASE so both engines agree null-in-null-out
    import duckdb

    from tests.conftest import register_duck_views
    from tests.oracle import compare

    con = duckdb.connect()
    register_duck_views(con, nulls_dir)
    spec = REGISTRY["text_profile"]
    ok, msg = compare(spec.fn(spark, nulls_dir), con, spec.oracle)
    assert ok, msg


@pytest.fixture(scope="module")
def skew_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("degen") / "skew")
    return derive(spark, SF_SMALL, out, DEGENERATE["skew"])


def test_skewed_keys_keep_oracle_parity(spark, skew_dir):
    # a third of orders/events/lineitem rows remapped onto one hot key
    # (whale customer / bot user / staple item) — keyed aggs, windows,
    # and sessionization must produce the same values DuckDB does on the
    # same skewed tables (the sf0.1 sweep lives in BASELINE.md; this is
    # the cheap suite pin)
    import duckdb

    from tests.conftest import register_duck_views
    from tests.oracle import compare

    con = duckdb.connect()
    register_duck_views(con, skew_dir)
    for name in ("copurchase_recommend_top5", "events_session_windows", "skew_salted_agg"):
        spec = REGISTRY[name]
        ok, msg = compare(spec.fn(spark, skew_dir), con, spec.oracle)
        assert ok, (name, msg)


@pytest.fixture(scope="module")
def unicode_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("degen") / "uni")
    return derive(spark, SF_SMALL, out, DEGENERATE["unicode"])


def test_multibyte_text_keeps_oracle_parity(spark, unicode_dir):
    # every third token suffixed with accented/CJK/astral chars: the text
    # operators are codepoint-based in both engines and agreed already;
    # the multimodal byte path diverged (Spark encodes utf-8 BYTES, the
    # oracle modeled codepoints) until the oracle grew a SQL utf-8
    # encoder — pin both classes
    import duckdb

    from tests.conftest import register_duck_views
    from tests.oracle import compare

    con = duckdb.connect()
    register_duck_views(con, unicode_dir)
    for name in ("multimodal_pipeline", "text_profile", "dedup_near_dup_pairs"):
        spec = REGISTRY[name]
        ok, msg = compare(spec.fn(spark, unicode_dir), con, spec.oracle)
        assert ok, (name, msg)


@pytest.fixture(scope="module")
def ties_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("degen") / "ties")
    return derive(spark, SF_SMALL, out, DEGENERATE["ties"])


def test_timestamp_ties_keep_oracle_parity(spark, ties_dir):
    # events.ts truncated to the minute -> mass ties, including events
    # landing EXACTLY one gap apart. Spark's session_window keeps an
    # event at prev + gap in the same session (verified empirically),
    # so every gap comparison (batch oracle, streaming oracle, both
    # stateful impls) must break strictly on > gap — the probe caught
    # the >= form producing 4 extra oracle sessions
    import duckdb

    from tests.conftest import register_duck_views
    from tests.oracle import compare

    con = duckdb.connect()
    register_duck_views(con, ties_dir)
    for name in ("events_session_windows", "events_dedup_keep_first", "purchase_last_click_asof"):
        spec = REGISTRY[name]
        ok, msg = compare(spec.fn(spark, ties_dir), con, spec.oracle)
        assert ok, (name, msg)


@pytest.fixture(scope="module")
def nan_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("degen") / "nan")
    return derive(spark, SF_SMALL, out, DEGENERATE["nonfinite"])


def test_nonfinite_measures_keep_oracle_parity(spark, nan_dir):
    # NaN/±inf in events.value: Spark's double->decimal cast silently
    # nulls them while DuckDB's hard-errors — the decimal-sum discipline
    # now EXCLUDES non-finite values explicitly on both sides (the same
    # way NULLs are excluded), so the sums agree and neither engine
    # crashes
    import duckdb

    from tests.conftest import register_duck_views
    from tests.oracle import compare

    con = duckdb.connect()
    register_duck_views(con, nan_dir)
    for name in ("events_windows", "events_multires_rollup", "event_value_tiers"):
        spec = REGISTRY[name]
        ok, msg = compare(spec.fn(spark, nan_dir), con, spec.oracle)
        assert ok, (name, msg)


def test_session_gap_boundary_semantics(spark):
    # the binding contract, verified against F.session_window itself:
    # an event at EXACTLY prev + gap merges into the session; one
    # microsecond past the gap starts a new one
    import datetime

    from pyspark.sql import functions as F

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0),
        (1, t0 + datetime.timedelta(minutes=30)),  # exactly one gap: merges
        (2, t0),
        (2, t0 + datetime.timedelta(minutes=30, microseconds=1)),  # past gap: splits
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    out = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .count()
        .groupBy("user_id")
        .count()
        .collect()
    )
    sessions = {r["user_id"]: r["count"] for r in out}
    assert sessions == {1: 1, 2: 2}


def test_smoke_entries_complete_on_empty_tables(spark, empty_dir):
    for name in SMOKE:
        n = REGISTRY[name].fn(spark, empty_dir).count()
        # revenue_by_nation's ROLLUP keeps its () grand-total row (count
        # 0) on empty input, as the SQL standard and its DuckDB oracle do
        assert n == (1 if name == "revenue_by_nation" else 0), name


@pytest.fixture(scope="module")
def emptytext_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("degen") / "emptytext")
    return derive(spark, SF_SMALL, out, DEGENERATE["emptytext"])


def test_empty_string_text_keeps_oracle_parity(spark, emptytext_dir):
    # EMPTY (not null) text survives `text IS NOT NULL` scan filters, so
    # the zero-length branches actually run: _fake_decode emits
    # f0=f1=0 for b'' while cs[1]/cs[len(cs)] on an empty DuckDB list
    # yield NULL — the features oracle now coalesces both to 0
    # (ADVICE r6). text_profile rides along to pin the empty token
    # array / zero-division branches of the text stack.
    import duckdb

    from tests.conftest import register_duck_views
    from tests.oracle import compare

    con = duckdb.connect()
    register_duck_views(con, emptytext_dir)
    for name in ("multimodal_pipeline", "text_profile"):
        spec = REGISTRY[name]
        ok, msg = compare(spec.fn(spark, emptytext_dir), con, spec.oracle)
        assert ok, (name, msg)


@pytest.mark.slow
@pytest.mark.parametrize("variant", sorted(DEGENERATE))
def test_full_registry_on_degenerate_variant(spark, tmp_path, variant):
    # every registry entry on one variant, checked as selfcheck.py checks:
    # against its oracle where it has one, completion otherwise
    import duckdb

    from flink_parameter_server_spark import scratch
    from tests.conftest import register_duck_views
    from tests.oracle import compare

    out = derive(spark, SF_SMALL, str(tmp_path / variant), DEGENERATE[variant])
    con = duckdb.connect()
    register_duck_views(con, out)
    failed = {}
    for name, spec in sorted(REGISTRY.items()):
        scratch.release()
        try:
            df = spec.fn(spark, out)
            if spec.oracle is None:
                df.count()
                continue
            ok, msg = compare(df, con, spec.oracle)
        except Exception as e:  # noqa: BLE001 - a raise is a finding, recorded per entry
            ok, msg = False, f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        if not ok:
            failed[name] = msg
    assert not failed, failed
