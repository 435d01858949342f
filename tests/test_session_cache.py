"""The session cache (``io.CACHE``): every engine memo lives in one store,
keyed on (application, kind, sf_dir, source stamps). Pinned here: conf
re-application on every load, one entry per (kind, sf_dir) across source
rewrites with the stale checkpoint freed, eviction on a new application,
and a source scan that keeps new caches from appearing elsewhere."""

from __future__ import annotations

import os
import re
import shutil
from types import SimpleNamespace

import genesapi_cli_spark.io as gio
from genesapi_cli_spark.io import CACHE, SessionCache, load

from .conftest import SMOKE_SF_DIR

LEAF = "spark.sql.leafNodeDefaultParallelism"


def test_load_restores_lake_derived_leaf_conf(spark, monkeypatch):
    """A conf changed behind the engine's back is set back by the next
    load (get-compare-set), not skipped because it was applied once."""
    monkeypatch.delenv("SPARK_GRAFT_LEAF_PAR", raising=False)
    load(spark, SMOKE_SF_DIR, "region")
    derived = spark.conf.get(LEAF)
    spark.conf.set(LEAF, "5" if derived != "5" else "6")
    load(spark, SMOKE_SF_DIR, "region")
    assert spark.conf.get(LEAF) == derived


def _rewrite(src: str, dst: str, keep_mod: int) -> None:
    import duckdb

    con = duckdb.connect()
    con.sql(
        f"COPY (SELECT * FROM read_parquet('{src}') WHERE doc_id % {keep_mod} != 0)"
        f" TO '{dst}' (FORMAT PARQUET)"
    )
    con.close()


def test_source_rewrites_keep_one_entry_per_kind(spark, tmp_path):
    """Rewriting a source N times leaves one load, one sizing and one band
    entry for that sf_dir, and the stale band checkpoints are unpersisted:
    the JVM's persistent-RDD count does not grow with N."""
    from genesapi_cli_spark.operators.dedup import shared_portable_bands

    sf = str(tmp_path)
    src = f"{SMOKE_SF_DIR}/documents.parquet"
    shutil.copy(src, f"{sf}/documents.parquet")
    jsc = spark.sparkContext._jsc
    persisted = []
    for i in range(5):
        _rewrite(src, f"{sf}/documents.parquet", i + 2)
        load(spark, sf, "documents")
        assert shared_portable_bands(spark, sf).count() > 0
        kinds = sorted(kind for kind, d in CACHE.entries if d == sf)
        assert kinds == ["load:documents", "portable_bands", "sizing"], kinds
        persisted.append(jsc.getPersistentRDDs().size())
    assert max(persisted) == persisted[0], persisted


def test_new_application_drops_and_unpersists_entries(spark):
    """An entry from another application is never served: the first call
    under a new applicationId drops every entry and frees its checkpoint."""
    cache = SessionCache()
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    df = cache.get_or_build(spark, "probe", lambda: spark.range(5), "d", checkpoint=True)
    assert cache.get_or_build(spark, "probe", lambda: spark.range(7), "d") is df
    assert jsc.getPersistentRDDs().size() == before + 1
    other = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="other-app"))
    assert cache.get_or_build(other, "const", lambda: 42) == 42
    assert list(cache.entries) == [("const", None)]
    assert jsc.getPersistentRDDs().size() == before


def test_no_engine_state_outside_the_session_cache():
    """Every memo goes through io.CACHE. A module-level ``*_MEMO`` dict, an
    empty module-level dict, or a cache keyed on ``applicationId`` anywhere
    else under the package fails here. ``io.py`` reads the application id
    twice: the cache's own key and ``session_nonce``."""
    pkg = os.path.join(os.path.dirname(os.path.dirname(__file__)), "genesapi_cli_spark")
    allowed_dicts = {"registry.py": {"REGISTRY"}}
    allowed_app_ids = {"io.py": 2}
    offenders = []
    for root, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, pkg)
            with open(path) as fh:
                src = fh.read()
            for m in re.finditer(r"^(\w+)\s*(?::[^=\n]*)?=\s*(\{\}|dict\(\))", src, re.M):
                if m.group(1) not in allowed_dicts.get(rel, set()):
                    offenders.append(f"{rel}: module-level dict {m.group(1)}")
            for m in re.finditer(r"^\s*(\w*_MEMO)\b", src, re.M):
                offenders.append(f"{rel}: {m.group(1)}")
            n = len(re.findall(r"\bapplicationId\b", src))
            if n > allowed_app_ids.get(rel, 0):
                offenders.append(f"{rel}: {n} applicationId reads")
    assert not offenders, offenders
    assert isinstance(gio.CACHE, SessionCache)
