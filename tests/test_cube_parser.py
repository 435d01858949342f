"""Golden tests for the GENESIS Quader cube parser (FIXTURES.md §3)."""

from __future__ import annotations

from genesapi_cli_spark.sources.cube import (
    SAMPLE_CUBE_TEXT,
    parse_cube_text,
    parse_header,
)


def test_header_layout():
    header = [ln for ln in SAMPLE_CUBE_TEXT.splitlines() if not ln.startswith("D;QEI;")]
    layout = parse_header(header)
    assert layout.cube == "12411BJ001"
    assert layout.statistic == "12411"
    assert layout.axes == ["DINSG", "GES"]
    assert layout.time_axis == "JAHR"
    assert layout.measures == [("BEVSTD", "Anzahl", "GANZ")]


def test_fact_rows(spark):
    rows = parse_cube_text(spark, SAMPLE_CUBE_TEXT).orderBy("region_id", "dims.GES").collect()
    assert len(rows) == 4
    r0, r1, r2, r3 = rows
    assert (r0.region_id, r0.statistic, r0.cube, r0.year, r0.measure) == (
        "01001",
        "12411",
        "12411BJ001",
        2014,
        "BEVSTD",
    )
    assert r0.value == 43520.0 and r0.quality == "e" and r0.dims == {"GES": "GESM"}
    assert r1.value == 45678.0 and r1.dims == {"GES": "GESW"}
    # confidential tokens → NULL value, quality flag preserved
    assert r2.value is None and r2.quality == "g" and r2.region_id == "01002"
    assert r3.value is None and r3.quality == "x" and r3.dims == {"GES": "GESW"}



def test_header_values_with_quotes_and_backslashes(spark):
    """Header values are data from the file: a quote or backslash in a cube,
    axis or measure name reaches the rows verbatim and never breaks the
    generated parse."""
    text = (
        SAMPLE_CUBE_TEXT.replace("D;DQ;12411BJ001", "D;DQ;12'4\\BJ001")
        .replace("D;DQA;GES;", "D;DQA;G'E\\S;")
        .replace("D;DQI;BEVSTD;", "D;DQI;BEV'S\\TD\";")
    )
    rows = parse_cube_text(spark, text).collect()
    assert len(rows) == 4
    assert {(r.statistic, r.cube, r.measure) for r in rows} == {
        ("12'4\\", "12'4\\BJ001", "BEV'S\\TD\"")
    }
    assert {tuple(r.dims) for r in rows} == {("G'E\\S",)}


def test_decimal_comma_and_multi_measure(spark):
    text = """\
K;DQ;X
D;DQ;21111BJ002;;N;Test;01.01.2024
K;DQA;NAME;RHF-BSR;RHF-ACHSE
D;DQA;KREISE;1;1
K;DQZ;NAME
D;DQZ;JAHR;2
K;DQI;NAME;ME-NAME;DST;TYP
D;DQI;M1;Anzahl;SUMME;GANZ
D;DQI;M2;Prozent;SUMME;PROZ
K;QEI;...
D;QEI;05911;2020;1234;e;;12,5;p;
"""
    rows = parse_cube_text(spark, text).orderBy("measure").collect()
    assert len(rows) == 2  # one fact row × two measures
    m1, m2 = rows
    assert m1.measure == "M1" and m1.value == 1234.0 and m1.year == 2020
    assert m2.measure == "M2" and m2.value == 12.5 and m2.quality == "p"
    assert m1.dims == {}  # single (regional) axis → no extra dimensions


def test_genesis_schema_golden(spark):
    """Catalog build over the sample cube: one (statistic, measure) row with
    full coverage metadata and the observed GES dimension domain."""
    import json

    from genesapi_cli_spark.sources.cube import q_genesis_schema

    (row,) = q_genesis_schema(spark, "").collect()
    assert (row.statistic, row.measure) == ("12411", "BEVSTD")
    assert (row.n_facts, row.n_values, row.n_regions) == (4, 2, 2)
    assert (row.year_min, row.year_max) == (2014, 2014)
    assert json.loads(row.dim_domains_json) == {"GES": ["GESM", "GESW"]}


def test_genesis_region_rollup_golden(spark):
    """AGS prefix rollup: both sample regions share Land '01'; the two
    confidential values count as locked and are excluded from the total."""
    from genesapi_cli_spark.sources.cube import q_genesis_region_rollup

    (row,) = q_genesis_region_rollup(spark, "").collect()
    assert (row.land, row.year, row.measure) == ("01", 2014, "BEVSTD")
    assert (row.n_facts, row.n_values, row.n_locked) == (4, 2, 2)
    assert row.total == 43520 + 45678


def test_cube_write_parse_roundtrip(spark):
    """parse -> write -> parse is a fixed point: the writer emits header +
    body lines that re-parse to the exact same fact rows (confidential
    tokens round-trip as NULL + preserved quality flag)."""
    from genesapi_cli_spark.sources.cube import (
        SAMPLE_CUBE_TEXT,
        parse_cube_text,
        parse_header,
        write_cube_lines,
        write_header_lines,
    )

    facts = parse_cube_text(spark, SAMPLE_CUBE_TEXT)
    header = [
        ln for ln in SAMPLE_CUBE_TEXT.strip().splitlines()
        if not ln.startswith("D;QEI;")
    ]
    layout = parse_header(header)

    header2 = write_header_lines(layout)
    assert parse_header(header2).axes == layout.axes
    assert parse_header(header2).measures == layout.measures
    assert parse_header(header2).cube == layout.cube

    body = write_cube_lines(facts, layout)
    text2 = "\n".join(header2 + [r.value for r in body.collect()])
    facts2 = parse_cube_text(spark, text2)

    def key(r):
        return (r.region_id, r.year, r.measure, tuple(sorted(r.dims.items())))

    a = sorted(
        ((key(r), r.value, r.quality) for r in facts.collect()), key=lambda t: t[0]
    )
    b = sorted(
        ((key(r), r.value, r.quality) for r in facts2.collect()), key=lambda t: t[0]
    )
    assert a == b


def test_python_datasource_matches_jvm_parse(spark, tmp_path):
    """The Spark 4 Python DataSource mount and the JVM split/element_at
    parse produce the SAME relation — including across multiple files
    (one InputPartition each)."""
    from genesapi_cli_spark.sources.cube import SAMPLE_CUBE_TEXT, parse_cube_text
    from genesapi_cli_spark.sources.cube_datasource import CubeTextDataSource

    try:
        spark.dataSource.register(CubeTextDataSource)
    except Exception:
        pass
    # two copies of the sample cube → 2 partitions, 8 rows
    for name in ("a.cube", "b.cube"):
        (tmp_path / name).write_text(SAMPLE_CUBE_TEXT, encoding="utf-8")
    ds = spark.read.format("genesapi_cube").load(str(tmp_path))
    assert ds.rdd.getNumPartitions() == 2
    jvm = parse_cube_text(spark, SAMPLE_CUBE_TEXT)

    def key(r):
        return (r.region_id, r.year, r.measure, tuple(sorted(r.dims.items())),
                r.value, r.quality, r.statistic, r.cube)

    got = sorted(key(r) for r in ds.collect())
    want = sorted(key(r) for r in jvm.collect()) * 2
    assert got == sorted(want)
