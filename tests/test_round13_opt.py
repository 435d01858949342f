"""Round-13 optimization-round tests: the memo de-shadowing knob and any
operator-internal changes this round makes (focused tests per the round
rules — one test per changed internal)."""

from __future__ import annotations

import genesapi_cli_spark.io as gio

from tests.conftest import ORACLE_SF_DIR, SMOKE_SF_DIR


def test_leaf_parallelism_derived_from_lake_size(spark, monkeypatch):
    """spark.sql.leafNodeDefaultParallelism must follow lake size:
    1 for a tiny lake (no padding of small inputs out to the core count),
    clamped at defaultParallelism for a lake carrying >= 32 MiB per core
    (identical to the stock default there), env-overridable."""
    dp = spark.sparkContext.defaultParallelism
    conf = "spark.sql.leafNodeDefaultParallelism"

    def run(total_bytes, sf_dir):
        monkeypatch.setattr(gio, "_lake_bytes", lambda s, d: total_bytes)
        gio.CACHE.clear()
        gio._ensure_scale_partitions(spark, sf_dir)
        return int(spark.conf.get(conf))

    try:
        monkeypatch.delenv("SPARK_GRAFT_LEAF_PAR", raising=False)
        assert run(17 << 20, "/tiny/lake") == 1, "tiny lake must not pad leaves"
        assert run((64 << 20) * dp, "/big/lake") == dp, (
            "data-sized lake must converge to the stock default (defaultParallelism)"
        )
        assert run(5 * (32 << 20), "/mid/lake") == min(5, dp)

        monkeypatch.setenv("SPARK_GRAFT_LEAF_PAR", "7")
        assert run(17 << 20, "/tiny/lake2") == 7, "env override must win"
    finally:
        # re-derive from the real lake (real _lake_bytes, real env) so the
        # shared session does not carry the override into later tests
        monkeypatch.undo()
        gio.CACHE.clear()
        gio._ensure_scale_partitions(spark, ORACLE_SF_DIR)


def test_no_memo_knob_disables_cross_invocation_sharing(spark, monkeypatch):
    """SPARK_GRAFT_NO_MEMO=1 must route every derived-relation get_or_build
    call to a fresh build (no cache population, no reuse), while the default
    path still serves one shared object. This is the round-13 de-shadowing
    knob the bench runs once each way to quantify the session memos."""
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(3).toDF("x")

    gio.CACHE.clear()
    key = ("no_memo_probe", SMOKE_SF_DIR)

    def get():
        return gio.CACHE.get_or_build(
            spark, "no_memo_probe", build, SMOKE_SF_DIR, ("stamp",), checkpoint=True
        )

    monkeypatch.setenv("SPARK_GRAFT_NO_MEMO", "1")
    a = get()
    b = get()
    assert calls["n"] == 2, "no-memo mode must rebuild per call"
    assert not gio.CACHE.entries, "no-memo mode must not populate the cache"
    assert a is not b
    assert sorted(r.x for r in a.collect()) == sorted(r.x for r in b.collect())

    monkeypatch.delenv("SPARK_GRAFT_NO_MEMO")
    c = get()
    d = get()
    assert calls["n"] == 3, "memo mode must build once"
    assert c is d
    assert key in gio.CACHE.entries
