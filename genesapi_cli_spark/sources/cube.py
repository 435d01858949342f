"""GENESIS "Quader" cube-text source (SURVEY.md §2.1 `q_source_cube_text`).

Reference analog: the cube parser of the upstream repo (``genesapi/cube.py``
or its vendored regenesis-style parser, ~300 LoC, upstream) — semicolon-
delimited text where ``K;…`` header records declare the cube's axes
(dimensions), time axis and measures, and ``D;QEI;…`` records carry the facts.
The format is publicly documented by Destatis; the grammar here follows
/root/repo/FIXTURES.md §3 (the reference mount was empty — see SURVEY.md §0).

Spark-first design (NOT a port of the row loop):
- header records are metadata — tiny, read on the driver through the Hadoop
  FileSystem API up to the first fact record and parsed into an
  axis/measure layout (exactly like reading a Parquet footer; no Spark job);
- fact records are data — parsed executor-side with JVM ``split``/``element_at``
  expressions generated FROM that layout, so a 100 TB cube dump parses as ONE
  projected scan with whole-stage codegen: each record is split once and one
  ``inline`` generator unpivots its measure groups into fact rows;
  dimensions land in a MAP<STRING,STRING> column (Dremel-style nested
  columnar, PAPERS.md).
- confidential/missing tokens (``...``, ``-``, ``x``, ``.``) become NULL with
  the quality flag preserved — the reference's value-cleaning semantics.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from genesapi_cli_spark.registry import register

#: tokens that mean "no value" in GENESIS exports (confidential / missing).
NA_TOKENS = ("...", "-", "x", ".", "")


@dataclass
class CubeLayout:
    """Structural metadata of one cube, from its K;/D; header records."""

    cube: str = ""
    statistic: str = ""
    axes: list = field(default_factory=list)  # dimension names, in axis order
    time_axis: str = "JAHR"
    measures: list = field(default_factory=list)  # (name, unit, value_type)


def parse_header(lines: list[str]) -> CubeLayout:
    """Parse header records (driver-side; headers are O(10) lines per cube)."""
    layout = CubeLayout()
    section = None
    for line in lines:
        parts = line.strip().split(";")
        if len(parts) < 2:
            continue
        rec, kind = parts[0], parts[1]
        if rec == "K":
            section = kind
            continue
        if rec != "D":
            continue
        if kind == "DQ" and len(parts) > 2:
            layout.cube = parts[2]
            layout.statistic = layout.cube[:5]
        elif kind == "DQA" and len(parts) > 2:
            layout.axes.append(parts[2])
        elif kind == "DQZ" and len(parts) > 2:
            layout.time_axis = parts[2]
        elif kind == "DQI" and len(parts) > 2:
            name = parts[2]
            unit = parts[3] if len(parts) > 3 else ""
            vtype = parts[5] if len(parts) > 5 else "GANZ"
            layout.measures.append((name, unit, vtype))
    return layout


def _sql_str(text: str) -> str:
    """``text`` as a Spark SQL string literal. Header values come from the
    input file, so quotes and backslashes are escaped, never trusted."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def parse_cube_lines(spark: SparkSession, lines_df: DataFrame, layout: CubeLayout) -> DataFrame:
    """Executor-side fact parse: D;QEI rows → typed fact rows, in one scan.

    Field layout per QEI record (after `D;QEI`): one code per axis (the first
    axis is the regional axis → region_id, the rest are dimension members),
    then the time value, then per-measure groups of (value, quality, lock).

    Each record is ``split`` once; the per-measure groups unpivot through
    one ``inline`` generator over an array of (measure, raw value, quality)
    structs, so every input split is read once whatever the measure count.
    The projection is generated as SQL text from the layout: one plan call
    per column instead of one per expression node, which keeps plan
    construction cheap for wide layouts.
    """
    # positions are 1-based for element_at; fields 1,2 are "D","QEI"
    time_pos = 3 + len(layout.axes)
    dim_axes = layout.axes[1:]
    keys = ", ".join(_sql_str(a) for a in dim_axes)
    members = ", ".join(f"element_at(f, {4 + i})" for i in range(len(dim_axes)))
    dims = (
        f"map_from_arrays(array({keys}), array({members}))"
        if dim_axes
        else "CAST(map() AS map<string,string>)"
    )
    groups = ", ".join(
        f"named_struct('measure', {_sql_str(name)}, "
        f"'raw_value', element_at(f, {time_pos + 1 + 3 * i}), "
        f"'quality', element_at(f, {time_pos + 2 + 3 * i}))"
        for i, (name, _unit, _vtype) in enumerate(layout.measures)
    )
    na_tokens = ", ".join(_sql_str(t) for t in NA_TOKENS)
    return (
        lines_df.where("startswith(value, 'D;QEI;')")
        .selectExpr("split(value, ';') AS f")
        .selectExpr(
            "element_at(f, 3) AS region_id",
            f"{_sql_str(layout.statistic)} AS statistic",
            f"{_sql_str(layout.cube)} AS cube",
            f"CAST(element_at(f, {time_pos}) AS INT) AS year",
            f"inline(array({groups}))",
            f"{dims} AS dims",
        )
        .selectExpr(
            "region_id",
            "statistic",
            "cube",
            "year",
            "measure",
            f"CASE WHEN raw_value IN ({na_tokens}) THEN NULL"
            " ELSE CAST(replace(raw_value, ',', '.') AS DOUBLE) END AS value",
            "quality",
            "dims",
        )
    )


def parse_cube_text(spark: SparkSession, text: str) -> DataFrame:
    """Parse a complete cube export given as text (fixture / small-file path).
    For files of any size, :func:`parse_cube_file` reads the header on the
    driver and feeds the body through the same ``parse_cube_lines``."""
    lines = [ln for ln in text.strip().splitlines() if ln.strip()]
    header = [ln for ln in lines if not ln.startswith("D;QEI;")]
    layout = parse_header(header)
    lines_df = spark.createDataFrame([(ln,) for ln in lines], "value string")
    return parse_cube_lines(spark, lines_df, layout)


#: FIXTURES.md §3 sample cube (reconstructed Quader grammar).
SAMPLE_CUBE_TEXT = """\
K;DQ;FACH-SCHL;GHH-ART;TS-GED;KTX;PROD-STAND
D;DQ;12411BJ001;;N;Bevoelkerungsstand;01.01.2024
K;DQA;NAME;RHF-BSR;RHF-ACHSE
D;DQA;DINSG;1;1
D;DQA;GES;2;2
K;DQZ;NAME;ZI-RHF-BSR
D;DQZ;JAHR;3
K;DQI;NAME;ME-NAME;DST;TYP
D;DQI;BEVSTD;Anzahl;JAHRESSUMME;GANZ
K;QEI;FACH-SCHL;FACH-SCHL;ZI-WERT;WERT;QUALITAET;GESPERRT
D;QEI;01001;GESM;2014;43520;e;
D;QEI;01001;GESW;2014;45678;e;
D;QEI;01002;GESM;2014;...;g;
D;QEI;01002;GESW;2014;-;x;
"""


#: The sample cube is a fixed literal, so its parse is a deterministic
#: relation — pinned as a VALUES oracle (same pattern as q_source_csv).
#: The dims map serializes to JSON so the comparison stays on scalar types.
_CUBE_TEXT_ORACLE = """
SELECT * FROM (VALUES
  ('01001', '12411', '12411BJ001', 2014, 'BEVSTD', CAST(43520 AS DOUBLE), 'e',
   '{"GES":"GESM"}'),
  ('01001', '12411', '12411BJ001', 2014, 'BEVSTD', CAST(45678 AS DOUBLE), 'e',
   '{"GES":"GESW"}'),
  ('01002', '12411', '12411BJ001', 2014, 'BEVSTD', CAST(NULL AS DOUBLE), 'g',
   '{"GES":"GESM"}'),
  ('01002', '12411', '12411BJ001', 2014, 'BEVSTD', CAST(NULL AS DOUBLE), 'x',
   '{"GES":"GESW"}')
) AS t(region_id, statistic, cube, year, measure, value, quality, dims_json)
"""


@register("q_source_cube_text", oracle=_CUBE_TEXT_ORACLE)
def q_source_cube_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the embedded GENESIS-Quader sample into typed fact rows
    (VALUES oracle: 4 rows, confidential tokens → NULL + quality flag, GES
    codes in dims; richer structural goldens in tests/test_cube_parser.py)."""
    return (
        parse_cube_text(spark, SAMPLE_CUBE_TEXT)
        .select(
            "region_id",
            "statistic",
            "cube",
            "year",
            "measure",
            "value",
            "quality",
            F.to_json("dims").alias("dims_json"),
        )
        .orderBy("region_id", "dims_json")
    )


_SCHEMA_ORACLE = """
SELECT * FROM (VALUES
  ('12411', 'BEVSTD', CAST(4 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT),
   2014, 2014, '{"GES":["GESM","GESW"]}')
) AS t(statistic, measure, n_facts, n_values, n_regions, year_min, year_max,
       dim_domains_json)
"""


def schema_rows(facts: DataFrame, layout: CubeLayout) -> DataFrame:
    """The per-(statistic, measure) catalog of one cube's facts, in ONE
    aggregate over one scan: fact/value counts, region count, year range and
    ``dim_domains`` — a map from each dimension axis of ``layout`` to the
    sorted set of its observed members.

    Each group holds its distinct region ids while it aggregates; they are
    bounded by the AGS key space (a few ten thousand regional codes), the
    same bound class as the dimension domains the catalog collects anyway.
    """
    axes = sorted(layout.axes[1:])
    keys = ", ".join(_sql_str(a) for a in axes)
    values = ", ".join(f"sort_array(collect_set(dims[{_sql_str(a)}]))" for a in axes)
    domains = (
        f"map_from_arrays(array({keys}), array({values}))"
        if axes
        else "CAST(map() AS map<string,array<string>>)"
    )
    return facts.groupBy("statistic", "measure").agg(
        F.expr("count(1) AS n_facts"),
        F.expr("count(value) AS n_values"),
        F.expr("CAST(size(collect_set(region_id)) AS BIGINT) AS n_regions"),
        F.expr("min(year) AS year_min"),
        F.expr("max(year) AS year_max"),
        F.expr(f"{domains} AS dim_domains"),
    )


@register("q_genesis_schema", oracle=_SCHEMA_ORACLE)
def q_genesis_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog/schema build (``genesapi/schema.py`` upstream): aggregate the
    parsed facts into the per-(statistic, measure) metadata tree the GraphQL
    layer would expose — fact/region/year coverage plus the observed value
    set of every dimension. Deterministic sample → VALUES oracle.

    Plan shape: :func:`schema_rows`, the same single aggregation ``cli
    schema`` runs — one shuffle keyed by (statistic, measure)."""
    layout = parse_header(SAMPLE_CUBE_TEXT.splitlines())
    return schema_rows(parse_cube_text(spark, SAMPLE_CUBE_TEXT), layout).select(
        "statistic",
        "measure",
        "n_facts",
        "n_values",
        "n_regions",
        "year_min",
        "year_max",
        F.to_json("dim_domains").alias("dim_domains_json"),
    )


_REGION_ROLLUP_ORACLE = """
SELECT * FROM (VALUES
  ('01', 2014, 'BEVSTD', CAST(4 AS BIGINT), CAST(2 AS BIGINT),
   CAST(89198 AS DOUBLE), CAST(2 AS BIGINT))
) AS t(land, year, measure, n_facts, n_values, total, n_locked)
"""


@register("q_genesis_region_rollup", oracle=_REGION_ROLLUP_ORACLE)
def q_genesis_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGS regional-hierarchy rollup: GENESIS region keys nest by prefix
    (2=Land, 5=Kreis, 8=Gemeinde), so aggregation up the hierarchy is a
    substring groupBy — no hierarchy table needed. Confidential (NULL)
    values stay excluded; n_locked counts them, preserving the reference's
    quality-flag accounting. Deterministic sample → VALUES oracle."""
    facts = parse_cube_text(spark, SAMPLE_CUBE_TEXT)
    return (
        facts.withColumn("land", F.substring("region_id", 1, 2))
        .groupBy("land", "year", "measure")
        .agg(
            F.count(F.lit(1)).alias("n_facts"),
            F.count("value").alias("n_values"),
            F.sum("value").alias("total"),
            (F.count(F.lit(1)) - F.count("value")).alias("n_locked"),
        )
    )


def read_cube_header(spark: SparkSession, body: DataFrame) -> CubeLayout:
    """Read the layout of the cube whose text ``body`` (a
    ``spark.read.text`` relation) holds, on the driver, without a Spark job.

    Opens the first of the relation's input files by path order through the
    Hadoop FileSystem API — so every scheme Spark reads (file:, hdfs:,
    s3a:, ...) and every compression codec it decodes works — and stops at
    the first ``D;QEI;`` record. Like a Parquet footer read, the cost is a
    dozen lines, independent of the cube's size.
    """
    files = sorted(body.inputFiles())
    if not files:
        raise FileNotFoundError("cube relation has no input file")
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    first = jvm.org.apache.hadoop.fs.Path(files[0])
    codec = jvm.org.apache.hadoop.io.compress.CompressionCodecFactory(conf).getCodec(first)
    stream = first.getFileSystem(conf).open(first)
    header = []
    try:
        if codec is not None:
            stream = codec.createInputStream(stream)
        reader = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(stream, "UTF-8"))
        while (line := reader.readLine()) is not None and not line.startswith("D;QEI;"):
            header.append(line)
    finally:
        stream.close()
    return parse_header(header)


def parse_cube_file(spark: SparkSession, path: str) -> tuple[CubeLayout, DataFrame]:
    """Parse a cube export FILE (or glob/directory of one cube's files) into
    its layout and its fact rows.

    The header is read on the driver by :func:`read_cube_header` (no Spark
    job); the fact body streams through ``spark.read.text`` so a lake-scale
    dump parses as one projected scan: the D;QEI filter, the split and the
    measure unpivot run executor-side with whole-stage codegen, and input
    splitting gives per-file/per-block parallelism. Nothing runs until the
    caller's action.
    """
    body = spark.read.text(path)
    layout = read_cube_header(spark, body)
    return layout, parse_cube_lines(spark, body, layout)


# --- cube-text WRITER (the serialize direction) ------------------------------


def write_header_lines(layout: CubeLayout) -> list[str]:
    """Reconstruct the K;/D; header records from a layout (driver-side —
    headers are metadata, exactly like writing a Parquet footer). Inverse of
    :func:`parse_header`: ``parse_header(write_header_lines(l))`` recovers
    the same axes/time/measures."""
    lines = [
        "K;DQ;FACH-SCHL;GHH-ART;TS-GED;KTX;PROD-STAND",
        f"D;DQ;{layout.cube};;N;;",
        "K;DQA;NAME;RHF-BSR;RHF-ACHSE",
    ]
    for i, axis in enumerate(layout.axes, start=1):
        lines.append(f"D;DQA;{axis};{i};{i}")
    lines.append("K;DQZ;NAME;ZI-RHF-BSR")
    lines.append(f"D;DQZ;{layout.time_axis};{len(layout.axes) + 1}")
    lines.append("K;DQI;NAME;ME-NAME;DST;TYP")
    for name, unit, vtype in layout.measures:
        lines.append(f"D;DQI;{name};{unit};JAHRESSUMME;{vtype}")
    lines.append("K;QEI;FACH-SCHL;FACH-SCHL;ZI-WERT;WERT;QUALITAET;GESPERRT")
    return lines


def write_cube_lines(facts: DataFrame, layout: CubeLayout) -> DataFrame:
    """Serialize typed fact rows back to D;QEI body lines — the WRITE half
    of the reference's pipeline (``genesapi/serialize.py`` upstream turns
    facts into documents; this emits the cube interchange format itself, so
    parse ∘ write ∘ parse is a fixed point — property-tested).

    Spark-first: one groupBy per fact line (region, year, dims) re-gathers
    the per-measure rows with a measure→(value, quality) map, then ONE
    codegen concat_ws projection renders the record. NULL values render as
    the GENESIS confidential token ``...`` with their quality flag
    preserved; integral doubles render as integers (GANZ). At 100 TB this
    is an ordinary aggregate + projection and the sink is ``df.write.text``.
    """
    n_axes = len(layout.axes)
    dim_cols = [F.col("dims").getItem(a).alias(a) for a in layout.axes[1:n_axes]]
    gathered = (
        facts.select(
            "region_id",
            "year",
            *dim_cols,
            "measure",
            "value",
            "quality",
        )
        .groupBy("region_id", "year", *[a for a in layout.axes[1:n_axes]])
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("measure", F.struct("value", "quality")))
            ).alias("m")
        )
    )
    fields = [F.lit("D"), F.lit("QEI"), F.col("region_id")]
    fields += [F.col(a) for a in layout.axes[1:n_axes]]
    fields.append(F.col("year").cast("string"))
    for name, _unit, _vtype in layout.measures:
        v = F.col("m").getItem(name).getField("value")
        q = F.col("m").getItem(name).getField("quality")
        rendered = F.when(v.isNull(), F.lit("...")).otherwise(
            F.when(
                v == F.floor(v), v.cast("bigint").cast("string")
            ).otherwise(F.replace(v.cast("string"), F.lit("."), F.lit(",")))
        )
        fields += [rendered, F.coalesce(q, F.lit("")), F.lit("")]
    return gathered.select(F.concat_ws(";", *fields).alias("value"))


@register("q_source_cube_ds", oracle=_CUBE_TEXT_ORACLE)
def q_source_cube_ds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same cube relation through the Spark 4 PYTHON DATASOURCE mount
    (`spark.read.format("genesapi_cube").load(path)`,
    sources/cube_datasource.py) — proved equivalent to the JVM parse path
    by sharing q_source_cube_text's VALUES oracle verbatim. The sample
    cube is materialized to a file because a DataSource reads storage, not
    literals; executors parse their own files (one InputPartition per cube
    file), the driver only lists paths."""
    import os

    from genesapi_cli_spark.sources.cube_datasource import CubeTextDataSource

    try:
        spark.dataSource.register(CubeTextDataSource)
    except Exception:
        pass  # already registered in this session
    d = "/tmp/genesapi_spark/cube_ds"
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "sample.cube")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(SAMPLE_CUBE_TEXT)
    return (
        spark.read.format("genesapi_cube")
        .load(path)
        .select(
            "region_id",
            "statistic",
            "cube",
            "year",
            "measure",
            "value",
            "quality",
            F.to_json("dims").alias("dims_json"),
        )
        .orderBy("region_id", "dims_json")
    )


# --- q_genesis_yoy ------------------------------------------------------------

#: Multi-year cube fixture: one statistic, one measure, two regions, three
#: years, one confidential cell ('-', lock flag x) — the smallest series that
#: exercises YoY with a locked gap (same record grammar as SAMPLE_CUBE_TEXT).
YOY_CUBE_TEXT = """\
K;DQ;FACH-SCHL;GHH-ART;TS-GED;KTX;PROD-STAND
D;DQ;12411BJ001;;N;Bevoelkerungsstand;01.01.2024
K;DQA;NAME;RHF-BSR;RHF-ACHSE
D;DQA;DINSG;1;1
K;DQZ;NAME;ZI-RHF-BSR
D;DQZ;JAHR;2
K;DQI;NAME;ME-NAME;DST;TYP
D;DQI;BEVSTD;Anzahl;JAHRESSUMME;GANZ
K;QEI;FACH-SCHL;ZI-WERT;WERT;QUALITAET;GESPERRT
D;QEI;01001;2014;1000;e;
D;QEI;01001;2015;1100;e;
D;QEI;01001;2016;1210;e;
D;QEI;01002;2014;500;e;
D;QEI;01002;2015;-;x;
D;QEI;01002;2016;600;e;
"""


_YOY_ORACLE = """
SELECT * FROM (VALUES
  ('01001', 2015, CAST(1100 AS DOUBLE), CAST(1000 AS DOUBLE),
   CAST(1000 AS BIGINT)),
  ('01001', 2016, CAST(1210 AS DOUBLE), CAST(1100 AS DOUBLE),
   CAST(1000 AS BIGINT)),
  ('01002', 2015, CAST(NULL AS DOUBLE), CAST(500 AS DOUBLE),
   CAST(NULL AS BIGINT)),
  ('01002', 2016, CAST(600 AS DOUBLE), CAST(NULL AS DOUBLE),
   CAST(NULL AS BIGINT))
) AS t(region_id, year, value_cur, value_prev, yoy_bp)
"""


@register("q_genesis_yoy", oracle=_YOY_ORACLE)
def q_genesis_yoy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year change of a GENESIS statistic per region — the derived
    time-series read the reference's consumers (datenguide's GraphQL layer)
    compute over synced cubes, expressed directly on the parsed fact
    relation: per region, lag the measure by year and report the YoY delta in
    exact integer BASIS POINTS ((cur·10⁴) div prev − 10⁴). Confidential cells
    (GENESIS lock flags, parsed to NULL by the shared cube parser) propagate:
    a locked year yields NULL YoY both for itself and the following year —
    never a fabricated rate over a suppressed value.

    Scale shape: one lag window partitioned by (region, measure) ordered by
    year — across ALL cubes of a full GENESIS sync this is millions of
    independent tiny series, the embarrassingly-parallel case. The fixture is
    a fixed literal (same VALUES-oracle pattern as q_source_cube_text), so
    the relation is deterministic end to end.
    """
    facts = parse_cube_text(spark, YOY_CUBE_TEXT)
    w = Window.partitionBy("region_id", "measure").orderBy("year")
    lagged = facts.select(
        "region_id",
        "year",
        F.col("value").alias("value_cur"),
        F.lag("value").over(w).alias("value_prev"),
    ).filter(F.col("year") > 2014)
    return lagged.select(
        "region_id",
        "year",
        "value_cur",
        "value_prev",
        F.expr(
            "CAST((CAST(value_cur AS BIGINT) * 10000)"
            " div CAST(value_prev AS BIGINT) - 10000 AS BIGINT)"
        ).alias("yoy_bp"),
    )


# --- q_source_cube_catalog ------------------------------------------------------

#: Two additional cube fixtures for the MULTI-cube catalog build: a
#: two-measure cube with a NAT dimension and a confidential cell, and a
#: dimensionless (DINSG-only) cube — the axis-less layout real GENESIS
#: exports contain, which forces the catalog join to be a LEFT join.
EMPLOYMENT_CUBE_TEXT = """\
K;DQ;FACH-SCHL;GHH-ART;TS-GED;KTX;PROD-STAND
D;DQ;13311AJ002;;N;Erwerbstaetigkeit;01.01.2024
K;DQA;NAME;RHF-BSR;RHF-ACHSE
D;DQA;DINSG;1;1
D;DQA;NAT;2;2
K;DQZ;NAME;ZI-RHF-BSR
D;DQZ;JAHR;3
K;DQI;NAME;ME-NAME;DST;TYP
D;DQI;ERW;Anzahl;JAHRESSUMME;GANZ
D;DQI;ALO;Anzahl;JAHRESSUMME;GANZ
K;QEI;FACH-SCHL;FACH-SCHL;ZI-WERT;WERT;QUALITAET;GESPERRT
D;QEI;02001;NATA;2020;100;e;;50;e;
D;QEI;02001;NATD;2020;80;e;;40;e;
D;QEI;02001;NATA;2021;110;e;;55;e;
D;QEI;02002;NATA;2020;...;x;;30;e;
"""

STUDENTS_CUBE_TEXT = """\
K;DQ;FACH-SCHL;GHH-ART;TS-GED;KTX;PROD-STAND
D;DQ;21111KJ001;;N;Studierende;01.01.2024
K;DQA;NAME;RHF-BSR;RHF-ACHSE
D;DQA;DINSG;1;1
K;DQZ;NAME;ZI-RHF-BSR
D;DQZ;JAHR;2
K;DQI;NAME;ME-NAME;DST;TYP
D;DQI;STUD;Anzahl;JAHRESSUMME;GANZ
K;QEI;FACH-SCHL;ZI-WERT;WERT;QUALITAET;GESPERRT
D;QEI;03001;2022;10;e;
D;QEI;03002;2022;20;e;
"""


_CUBE_CATALOG_ORACLE = """
SELECT * FROM (VALUES
  ('12411', 'BEVSTD', CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(2 AS BIGINT),
   CAST(2 AS BIGINT), 2014, 2014, '{"GES":["GESM","GESW"]}'),
  ('13311', 'ERW', CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(3 AS BIGINT),
   CAST(2 AS BIGINT), 2020, 2021, '{"NAT":["NATA","NATD"]}'),
  ('13311', 'ALO', CAST(1 AS BIGINT), CAST(4 AS BIGINT), CAST(4 AS BIGINT),
   CAST(2 AS BIGINT), 2020, 2021, '{"NAT":["NATA","NATD"]}'),
  ('21111', 'STUD', CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(2 AS BIGINT),
   CAST(2 AS BIGINT), 2022, 2022, '{}')
) AS t(statistic, measure, n_cubes, n_facts, n_values, n_regions,
       year_min, year_max, dim_domains_json)
"""


@register("q_source_cube_catalog", oracle=_CUBE_CATALOG_ORACLE)
def q_source_cube_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-cube catalog build — the cross-cube ``schema.json`` derivation
    that is the reference's actual job (aggregate every downloaded cube's
    structure into one statistic→measure→dimension-domain tree for the
    GraphQL layer): three cubes with disjoint statistics, different axis
    sets (GES / NAT / none) and a confidential cell, parsed by the SAME
    grammar and folded into one catalog relation. The axis-less cube forces
    the dimension join to be a LEFT join with a '{}' domain default — real
    GENESIS exports contain DINSG-only cubes, and an inner join would drop
    them from the catalog (the bug class this fixture exists to pin).

    Scale shape: per-cube parse parallelism comes from the genesapi_cube
    DataSource's one-InputPartition-per-file mount at lake scale (see the
    q_source_cube_ds@multicube rehearsal: parse marginal exponent 0.744 at
    128→384 cubes); the catalog itself is the same one-aggregation metadata
    pass as q_genesis_schema keyed by (statistic, measure) — cube COUNT
    folds in as one more agg column, never a second scan."""
    # One localCheckpoint cuts the Python-RDD parse lineage: the coverage
    # and dim_domains branches below each re-referenced the union, and the
    # parse (applySchemaToPythonRDD per cube, per referenced scan) was
    # re-evaluated SEVEN times in the former plan (4 scans under the
    # coverage branch, 3 under the domains branch — plans/r12/
    # q_source_cube_catalog_before.txt). Parse once, read blocks twice
    # (guide §3.3: materialize a reused intermediate to truncate the plan).
    facts = (
        parse_cube_text(spark, SAMPLE_CUBE_TEXT)
        .unionByName(parse_cube_text(spark, EMPLOYMENT_CUBE_TEXT))
        .unionByName(parse_cube_text(spark, STUDENTS_CUBE_TEXT))
        .localCheckpoint(eager=False)
    )
    dim_values = (
        facts.select(
            "statistic", "measure", F.explode("dims").alias("dim", "dim_value")
        )
        .groupBy("statistic", "measure", "dim")
        .agg(F.sort_array(F.collect_set("dim_value")).alias("values"))
        .groupBy("statistic", "measure")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("dim", "values")))
            ).alias("dim_domains")
        )
    )
    coverage = facts.groupBy("statistic", "measure").agg(
        F.countDistinct("cube").alias("n_cubes"),
        F.count(F.lit(1)).alias("n_facts"),
        F.count("value").alias("n_values"),
        F.countDistinct("region_id").alias("n_regions"),
        F.min("year").alias("year_min"),
        F.max("year").alias("year_max"),
    )
    return coverage.join(dim_values, ["statistic", "measure"], "left").select(
        "statistic",
        "measure",
        "n_cubes",
        "n_facts",
        "n_values",
        "n_regions",
        "year_min",
        "year_max",
        F.coalesce(F.to_json("dim_domains"), F.lit("{}")).alias(
            "dim_domains_json"
        ),
    )
