"""Spark 4 Python DataSource for GENESIS "Quader" cube-text files:
``spark.read.format("genesapi_cube").load("/path/*.cube")``.

This wraps the cube grammar (sources/cube.py — header records parsed into a
layout, ``D;QEI`` fact records into typed rows) in the modern
``pyspark.sql.datasource`` API, so cube dumps mount like any other format —
no pre-parsing step, schema known before read, one input partition per cube
file (cube exports ship one cube per file; a file is the natural split unit
because the header IS that file's schema).

Division of labor, by design:
- THIS path (Python DataSource, Arrow-batched) is the *mount* surface:
  `.format(...).load(...)`, catalogs, SQL `CREATE TABLE ... USING`, and
  ad-hoc exploration.
- The JVM path (``parse_cube_lines``: split/element_at codegen over
  ``spark.read.text``) is the *bulk* surface for 100 TB re-parses — pure
  whole-stage codegen, no Python in the row loop.
  Both produce the SAME relation; `q_source_cube_ds` pins that equivalence
  against the same VALUES oracle as `q_source_cube_text`.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from genesapi_cli_spark.sources.cube import NA_TOKENS, parse_header

#: the relation every cube read produces (dims as a map column — Dremel-style
#: nested columnar, same as the JVM path).
CUBE_SCHEMA = (
    "region_id string, statistic string, cube string, year int, "
    "measure string, value double, quality string, dims map<string,string>"
)


def _parse_fact_line(line: str, layout) -> list[tuple]:
    """One ``D;QEI`` record → one row per measure (same unpivot the JVM
    path performs with its ``inline`` generator)."""
    parts = line.strip().split(";")
    # fields: D;QEI;<axis codes...>;<year>;<value;quality;lock per measure>
    n_axes = len(layout.axes)
    region = parts[2]
    dims = {layout.axes[i]: parts[2 + i] for i in range(1, n_axes)}
    year_str = parts[2 + n_axes]
    year = int(year_str) if year_str else None
    rows = []
    for m_idx, (m_name, _unit, _vtype) in enumerate(layout.measures):
        base = 3 + n_axes + m_idx * 3
        raw = parts[base] if base < len(parts) else ""
        quality = parts[base + 1] if base + 1 < len(parts) else ""
        value = None if raw in NA_TOKENS else float(raw.replace(",", "."))
        rows.append(
            (
                region,
                layout.statistic,
                layout.cube,
                year,
                m_name,
                value,
                quality,
                dims,
            )
        )
    return rows


class CubeFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class CubeTextReader(DataSourceReader):
    """One partition per cube file: the header is per-file schema, so a
    file is the atomic parse unit (like one parquet footer + its row
    groups). Executors each parse their own files — the driver never sees
    fact rows."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("genesapi_cube: `path` option / load(path) required")

    def partitions(self):
        import glob

        if os.path.isdir(self.path):
            files = sorted(glob.glob(os.path.join(self.path, "*")))
        else:
            files = sorted(glob.glob(self.path)) or [self.path]
        return [CubeFilePartition(p) for p in files]

    def read(self, partition):
        with open(partition.path, encoding="utf-8") as fh:
            lines = [ln for ln in fh.read().strip().splitlines() if ln.strip()]
        header = [ln for ln in lines if not ln.startswith("D;QEI;")]
        layout = parse_header(header)
        for ln in lines:
            if ln.startswith("D;QEI;"):
                yield from _parse_fact_line(ln, layout)


class CubeTextDataSource(DataSource):
    """``spark.read.format("genesapi_cube")`` — register once per session:
    ``spark.dataSource.register(CubeTextDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "genesapi_cube"

    def schema(self) -> str:
        return CUBE_SCHEMA

    def reader(self, schema) -> CubeTextReader:
        return CubeTextReader(self.options)
