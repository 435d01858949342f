"""CLI surface tests: the reference's serialize/schema subcommands
re-expressed (cube file → NDJSON docs / schema.json), run in-process."""

from __future__ import annotations

import gzip
import json
import time

from genesapi_cli_spark.cli import main
from genesapi_cli_spark.sources.cube import SAMPLE_CUBE_TEXT, parse_cube_file


def _cube_file(tmp_path):
    p = tmp_path / "12411BJ001.quader"
    p.write_text(SAMPLE_CUBE_TEXT)
    return str(p)


def test_parse_cube_file_matches_literal(spark, tmp_path):
    _layout, facts = parse_cube_file(spark, _cube_file(tmp_path))
    rows = facts.collect()
    assert len(rows) == 4
    assert {r.region_id for r in rows} == {"01001", "01002"}
    # confidential tokens → NULL value, quality preserved
    assert sum(r.value is None for r in rows) == 2


def _jobs_of(spark, group, fn, action):
    """Job ids ``fn`` launches under ``group``, then ``action(fn())`` under a
    group of its own. Job starts reach the status tracker in launch order,
    so once the action's jobs show up, any job ``fn`` launched has too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(group + "-action", group + "-action")
    try:
        result = action(out)
    finally:
        sc.setJobGroup("", "")
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group + "-action"):
        assert time.monotonic() < deadline, "action jobs never reached the tracker"
        time.sleep(0.05)
    return list(tracker.getJobIdsForGroup(group)), out, result


def _sorted_rows(rows):
    return sorted(rows, key=lambda r: (r.region_id, r.measure, sorted(r.dims.items())))


def test_parse_cube_file_header_runs_no_job(spark, tmp_path):
    """The header is read on the driver: parse_cube_file launches no Spark
    job, and a file, its gzip copy and a directory holding the same cube
    split over two part files (header only in the first by name) parse
    identically."""
    lines = SAMPLE_CUBE_TEXT.splitlines(keepends=True)
    first_fact = next(i for i, ln in enumerate(lines) if ln.startswith("D;QEI;"))
    split = tmp_path / "split"
    split.mkdir()
    (split / "_SUCCESS").write_text("")
    (split / "part-00000").write_text("".join(lines[: first_fact + 2]))
    (split / "part-00001").write_text("".join(lines[first_fact + 2 :]))

    gz = tmp_path / "12411BJ001.quader.gz"
    gz.write_bytes(gzip.compress(SAMPLE_CUBE_TEXT.encode()))

    parsed = {}
    inputs = [("file", _cube_file(tmp_path)), ("dir", str(split)), ("gz", str(gz))]
    for name, path in inputs:
        jobs, (layout, _facts), rows = _jobs_of(
            spark,
            f"cube-header-{name}",
            lambda path=path: parse_cube_file(spark, path),
            lambda out: out[1].collect(),
        )
        assert jobs == [], f"{name}: parse_cube_file launched jobs {jobs}"
        parsed[name] = (layout, _sorted_rows(rows))
    assert parsed["file"] == parsed["dir"] == parsed["gz"]
    layout, rows = parsed["file"]
    assert (layout.cube, layout.axes, layout.measures) == (
        "12411BJ001",
        ["DINSG", "GES"],
        [("BEVSTD", "Anzahl", "GANZ")],
    )
    assert len(rows) == 4


def test_parse_cube_file_header_stops_at_first_fact(spark, tmp_path):
    """Header-looking records after the first D;QEI line are body, not
    layout: the header read stops at the first fact record."""
    p = tmp_path / "trailing.quader"
    p.write_text(SAMPLE_CUBE_TEXT + "D;DQI;BOGUS;Anzahl;JAHRESSUMME;GANZ\n")
    layout, facts = parse_cube_file(spark, str(p))
    assert layout.measures == [("BEVSTD", "Anzahl", "GANZ")]
    assert facts.count() == 4


def test_cli_serialize_roundtrip(spark, tmp_path):
    out = str(tmp_path / "docs")
    rc = main(["serialize", _cube_file(tmp_path), out])
    assert rc == 0
    docs = [
        json.loads(line)
        for f in (tmp_path / "docs").glob("part-*")
        for line in f.read_text().splitlines()
    ]
    assert len(docs) == 4
    parsed = [json.loads(d["doc"]) for d in docs]
    assert {p["region_id"] for p in parsed} == {"01001", "01002"}
    assert all(len(d["fact_id"]) == 64 for d in docs)  # sha256 hex ids
    # deterministic fact ids: same content → same id on rerun
    rc = main(["serialize", _cube_file(tmp_path), out + "2"])
    assert rc == 0
    docs2 = [
        json.loads(line)
        for f in (tmp_path / "docs2").glob("part-*")
        for line in f.read_text().splitlines()
    ]
    assert {d["fact_id"] for d in docs} == {d["fact_id"] for d in docs2}


def test_cli_schema_build(spark, tmp_path):
    out = str(tmp_path / "schema.json")
    rc = main(["schema", _cube_file(tmp_path), out])
    assert rc == 0
    schema = json.loads((tmp_path / "schema.json").read_text())
    m = schema["statistics"]["12411"]["measures"]["BEVSTD"]
    assert m["n_facts"] == 4 and m["n_regions"] == 2
    assert m["years"] == [2014, 2014]
    assert m["dimensions"] == {"GES": ["GESM", "GESW"]}


def test_cli_sql_adhoc(spark, capsys):
    rc = main([
        "sql",
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1",
        "--sf-dir", "/root/testdata/sf0.001",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "l_returnflag" in out and "A" in out


def test_cli_explain_plan(spark, capsys):
    rc = main(["explain", "q_join_broadcast", "--sf-dir", "/root/testdata/sf0.001"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "BroadcastHashJoin" in out or "Exchange" in out
