"""Round-6 operator invariants the oracle hash cannot express directly:
semantic bounds of the lift/VIF/Page-Hinkley/pHash results, and the
session-memo contracts introduced this round (shared framing relation,
hamming signature memo, load memoization) — the regressions that would
silently reintroduce per-query scans are caught here."""

from __future__ import annotations

import genesapi_cli_spark
from genesapi_cli_spark.registry import REGISTRY

from .conftest import SMOKE_SF_DIR

genesapi_cli_spark.load_all()


def test_lift_deciles_partition_and_gains_terminate_at_one(spark):
    """Deciles cover all rows exactly once (Σn = N), cumulative gain is
    monotone and ends at 100% of positives, and lift·n averages to the
    base rate (Σ n·lift ≈ N·1e6 within per-decile snap error)."""
    rows = sorted(
        REGISTRY["q_feature_lift"].fn(spark, SMOKE_SF_DIR).collect(),
        key=lambda r: r.decile,
    )
    assert [r.decile for r in rows] == list(range(10))
    assert rows[-1].cum_gain_micro == 1_000_000
    gains = [r.cum_gain_micro for r in rows]
    assert gains == sorted(gains)
    total_pos = sum(r.n_pos for r in rows)
    assert rows[-1].cum_pos == total_pos


def test_vif_is_at_least_one(spark):
    """VIF = 1/(1−R²) with R² ∈ [0,1) ⇒ VIF ≥ 1 for every feature; R²
    micro stays in [0, 1e6)."""
    rows = REGISTRY["q_feature_vif"].fn(spark, SMOKE_SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.vif_r4 >= 1.0
        assert 0 <= r.r2_micro < 1_000_000


def test_page_hinkley_alarm_structure(spark):
    """Alarms are bounded by stream length, the first alarm (when any)
    is a valid position, and the maximum excursion is non-negative and
    at least the threshold whenever an alarm fired."""
    from genesapi_cli_spark.operators.timeseries import _PH_LAMBDA_MICRO

    rows = REGISTRY["q_events_page_hinkley"].fn(spark, SMOKE_SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_alarms <= r.n
        assert r.max_ph_micro >= 0
        if r.n_alarms > 0:
            assert 1 <= r.first_alarm_t <= r.n
            assert r.max_ph_micro > _PH_LAMBDA_MICRO
        else:
            assert r.first_alarm_t is None


def test_phash_buckets_conserve_docs(spark):
    """Per-lang: bucket counts sum to doc count, distinct hashes can't
    exceed docs or the 15-bit hash space, max bucket is a valid size."""
    rows = REGISTRY["q_multimodal_phash"].fn(spark, SMOKE_SF_DIR).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_hashes <= min(r.n_docs, 1 << 15)
        assert 1 <= r.max_bucket <= r.n_docs


def test_shared_framing_and_load_memos_return_same_object(spark):
    """The session memos ARE the persisted-table pattern: repeated calls in
    one session must return the identical DataFrame object (no re-scan, no
    re-analysis) for the loader, the multimodal framing relation, and the
    hamming signature relation."""
    from genesapi_cli_spark.io import load
    from genesapi_cli_spark.operators.multimodal import shared_payload_frames
    from genesapi_cli_spark.operators.similarity import _shared_ham_signatures

    assert load(spark, SMOKE_SF_DIR, "lineitem") is load(
        spark, SMOKE_SF_DIR, "lineitem"
    )
    assert shared_payload_frames(spark, SMOKE_SF_DIR) is shared_payload_frames(
        spark, SMOKE_SF_DIR
    )
    assert _shared_ham_signatures(spark, SMOKE_SF_DIR) is _shared_ham_signatures(
        spark, SMOKE_SF_DIR
    )


def test_spread_caches_partition_probe(spark):
    """spread() must keep the probed partition count with the cached load
    so later spreads skip the plan→RDD conversion."""
    from genesapi_cli_spark.io import CACHE, load, spread

    df = load(spark, SMOKE_SF_DIR, "orders")
    spread(df)
    assert isinstance(CACHE.entries[("load:orders", SMOKE_SF_DIR)].nparts, int)
