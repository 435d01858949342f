"""Hand-built golden/edge fixtures (SURVEY.md §5.2.2, FIXTURES.md §4):
nulls in joins, empty groups, window ties, session gap boundary, near-dup
pairing, NDJSON document structure."""

from __future__ import annotations

import json

from pyspark.sql import Window
from pyspark.sql import functions as F

from genesapi_cli_spark.operators.similarity import as_double, cosine
from genesapi_cli_spark.sources.sinks import order_documents
from genesapi_cli_spark.streaming.windows import session_stats

from .conftest import SMOKE_SF_DIR


def test_left_join_null_keys(spark):
    """A customer with a nationkey missing from nation survives a left join
    with NULL metadata (the reference keeps facts with missing labels)."""
    cust = spark.createDataFrame(
        [(1, 10), (2, 99)], "c_custkey long, c_nationkey int"
    )
    nation = spark.createDataFrame([(10, "A")], "n_nationkey int, n_name string")
    out = {
        (r.c_custkey, r.n_name)
        for r in cust.join(nation, cust.c_nationkey == nation.n_nationkey, "left").collect()
    }
    assert out == {(1, "A"), (2, None)}


def test_empty_group_disappears(spark):
    """Filters that eliminate a whole group yield no row for it (no 0-count)."""
    df = spark.createDataFrame([("a", 1), ("b", 5)], "k string, v int")
    rows = df.filter(F.col("v") > 3).groupBy("k").count().collect()
    assert {(r.k, r["count"]) for r in rows} == {("b", 1)}


def test_window_tie_break(spark):
    """Equal totalprice → row_number resolves by key; rank shows the tie."""
    df = spark.createDataFrame(
        [(1, 100.0), (2, 100.0), (3, 50.0)], "k long, price double"
    )
    w_unique = Window.orderBy(F.col("price").desc(), F.col("k"))
    w_rank = Window.orderBy(F.col("price").desc())
    rows = df.select(
        "k",
        F.row_number().over(w_unique).alias("rn"),
        F.rank().over(w_rank).alias("rnk"),
    ).collect()
    got = {(r.k, r.rn, r.rnk) for r in rows}
    assert got == {(1, 1, 1), (2, 2, 1), (3, 3, 3)}


def test_session_gap_boundary(spark):
    """Boundary semantics of session_window (verified against Spark 4.1.2):
    an event at EXACTLY last+gap merges into the session; only a strictly
    greater gap starts a new one. The oracle SQL mirrors this (> not >=)."""
    gap_us = 30 * 60 * 1_000_000
    base = 1_704_067_200_000_000
    ev = spark.createDataFrame(
        [(1, base), (2, base + gap_us), (3, base + 2 * gap_us + 1)],
        "event_id long, ts_us long",
    ).select(
        F.lit(7).alias("user_id"),
        "ts_us",
        F.timestamp_micros("ts_us").alias("ts"),
    )
    sessions = session_stats(ev).collect()
    # e2 exactly 30min after e1 → merges; e3 is 30min+1µs after e2 → new
    assert len(sessions) == 2
    sizes = sorted(r.n_events for r in sessions)
    assert sizes == [1, 2]


def test_cosine_self_similarity(spark):
    emb = spark.createDataFrame([(1, [1.0, 2.0, 2.0])], "id long, e array<double>")
    r = emb.select(cosine(F.col("e"), F.col("e")).alias("c")).collect()[0]
    assert abs(r.c - 1.0) < 1e-12


def test_as_double_cast(spark):
    emb = spark.createDataFrame([(1, [1.5, 2.5])], "id long, e array<float>")
    assert emb.select(as_double("e").alias("d")).schema["d"].dataType.simpleString() == (
        "array<double>"
    )


def test_ndjson_document_structure(spark):
    """The serialized order document must be valid JSON with nested customer
    and sorted line items; fact_id must be the sha256 of the doc."""
    doc_row = (
        order_documents(spark, SMOKE_SF_DIR).orderBy("o_orderkey").limit(1).collect()[0]
    )
    doc = json.loads(doc_row.doc)
    assert {"order_id", "status", "total", "date", "customer", "items"} <= set(doc)
    assert {"id", "name", "segment"} <= set(doc["customer"])
    if doc["items"]:
        lines = [it["l_linenumber"] for it in doc["items"]]
        assert lines == sorted(lines)
    import hashlib

    assert doc_row.fact_id == hashlib.sha256(doc_row.doc.encode()).hexdigest()


def test_minhash_pairs_near_duplicates(spark):
    """Two documents differing by one word must collide in at least one LSH
    band; an unrelated document must not pair with them."""
    from genesapi_cli_spark.registry import REGISTRY
    import genesapi_cli_spark

    genesapi_cli_spark.load_all()
    # golden corpus via a monkeypatched loader is heavier than needed — build
    # the pipeline inline on literal docs through the same registered code path
    # by writing a tiny parquet dir mimicking the documents table.
    import tempfile

    words_a = " ".join(f"w{i}" for i in range(30))
    words_b = " ".join(("CHANGED" if i == 7 else f"w{i}") for i in range(30))
    other = " ".join(f"z{i}" for i in range(30))
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            [(1, words_a, "en", "s", 10), (2, words_b, "en", "s", 10), (3, other, "en", "s", 10)],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.mode("overwrite").parquet(f"{td}/documents.parquet")
        pairs = {
            (r.doc_a, r.doc_b)
            for r in REGISTRY["q_dedup_near_minhash"].fn(spark, td).collect()
        }
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_ivf_invariants(spark):
    """IVF structural invariants: <=3 ranked neighbors per query, ranks
    dense from 1, neighbors drawn only from the query's probed buckets,
    and every reported bucket is a centroid id."""
    from collections import defaultdict

    from genesapi_cli_spark.operators.similarity import (
        IVF_CENTROID_HI,
        IVF_CENTROID_LO,
        IVF_NPROBE,
        q_sim_ivf,
    )

    rows = q_sim_ivf(spark, "/root/testdata/sf0.001").collect()
    per_q = defaultdict(list)
    for r in rows:
        per_q[r.query_id].append(r)
        assert IVF_CENTROID_LO <= r.bucket <= IVF_CENTROID_HI
        assert r.neighbor_id >= 10
    for q, rs in per_q.items():
        rs.sort(key=lambda r: r.rn)
        assert [r.rn for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        assert len({r.bucket for r in rs}) <= IVF_NPROBE
        sims = [r.cos_r for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_cdc_apply_delete_beats_update(spark):
    """A key hit by both the update wave (%5) and the delete wave (%20) must
    vanish (latest version wins); an update-only key must carry the new
    price. Checked against the declarative oracle shape on a literal frame."""
    from genesapi_cli_spark.operators.extended import q_cdc_apply

    # o_orderkey 20 → updated AND deleted (gone); 5 → updated (+100);
    # 1 → untouched. Totals per status prove each path.
    rows = [(1, "O", 10.0), (5, "O", 20.0), (20, "F", 40.0)]
    df = spark.createDataFrame(rows, "o_orderkey long, o_orderstatus string, o_totalprice double")
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(os.path.join(d, "orders.parquet"))
        out = {
            r["o_orderstatus"]: (r["n_orders"], r["sum_price"])
            for r in q_cdc_apply(spark, d).collect()
        }
    assert out == {"O": (2, 130.0)}  # 10 + (20+100); key 20 deleted


def test_capture_recapture_null_user_matches_oracle(spark, tmp_path):
    """NULL user_id rows: the per-user fold must match the oracle SQL
    counter by counter (n_a/n_b count the NULL group once, as SELECT
    DISTINCT does; m and n_true drop it, as the join and COUNT(DISTINCT)
    do), checked against DuckDB on the same events file."""
    import duckdb

    from genesapi_cli_spark.oracle import check_query
    from genesapi_cli_spark.registry import REGISTRY

    events = tmp_path / "events.parquet"
    con = duckdb.connect()
    con.sql(
        f"COPY (SELECT event_id, ts, CASE WHEN event_id % 4 = 0 THEN NULL"
        f" ELSE user_id END AS user_id, event_type, value, props"
        f" FROM read_parquet('{SMOKE_SF_DIR}/events.parquet')"
        f" WHERE event_id < 300) TO '{events}' (FORMAT parquet)"
    )
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}')")
    # NULL-user events land in both samples, so counting the NULL group in
    # m or n_true (or dropping it from n_a/n_b) would show
    in_a, in_b = con.sql(
        "WITH h AS (SELECT ('0x' || substr(sha256(CAST(event_id AS VARCHAR)"
        " || '|cr'), 1, 8))::BIGINT AS hv FROM events WHERE user_id IS NULL)"
        " SELECT bool_or(hv % 2 = 0), bool_or(hv % 3 = 0) FROM h"
    ).fetchone()
    assert in_a and in_b
    try:
        res = check_query(spark, REGISTRY["q_agg_capture_recapture"], str(tmp_path), con=con)
    finally:
        con.close()
    assert res.ok, res.errors
