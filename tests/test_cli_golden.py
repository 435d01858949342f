"""Golden outputs of ``cli serialize`` and ``cli schema`` on multi-measure
and axis-less cubes.

The expected fact ids and schema.json texts below are literal: any change
to the parse (column names, types, NA handling, decimal commas, measure
unpivot) or to the document/schema rendering shows up as a byte diff.
"""

from __future__ import annotations

import json

from genesapi_cli_spark.cli import main

#: A regional axis plus two dimension axes, two measures (one GANZ, one
#: FEST with decimal commas) and every GENESIS NA token in value position.
TWO_MEASURE_CUBE = """\
K;DQ;FACH-SCHL;GHH-ART;TS-GED;KTX;PROD-STAND
D;DQ;12613BJ004;;N;Golden two-measure cube;01.01.2024
K;DQA;NAME;RHF-BSR;RHF-ACHSE
D;DQA;DINSG;1;1
D;DQA;GES;2;2
D;DQA;NAT;3;3
K;DQZ;NAME;ZI-RHF-BSR
D;DQZ;JAHR;4
K;DQI;NAME;ME-NAME;DST;TYP
D;DQI;GEBURT;Anzahl;JAHRESSUMME;GANZ
D;DQI;FLAECHE;qkm;JAHRESSUMME;FEST
K;QEI;FACH-SCHL;FACH-SCHL;FACH-SCHL;ZI-WERT;WERT;QUALITAET;GESPERRT;WERT;QUALITAET;GESPERRT
D;QEI;05111;GESM;NATA;2019;1200;e;;217,4;e;
D;QEI;05111;GESW;NATD;2019;...;g;;217,4;e;
D;QEI;05111;GESM;NATA;2020;1180;e;;-;x;
D;QEI;05112;GESW;NATA;2020;x;x;;12,05;e;
D;QEI;05112;GESM;NATD;2021;.;g;;0,5;e;
D;QEI;05113;GESW;NATD;2021;7;e;;...;g;
"""

#: DINSG-only (axis-less) cube: the dims map is empty for every fact.
AXISLESS_CUBE = """\
K;DQ;FACH-SCHL;GHH-ART;TS-GED;KTX;PROD-STAND
D;DQ;21111KJ001;;N;Golden axis-less cube;01.01.2024
K;DQA;NAME;RHF-BSR;RHF-ACHSE
D;DQA;DINSG;1;1
K;DQZ;NAME;ZI-RHF-BSR
D;DQZ;JAHR;2
K;DQI;NAME;ME-NAME;DST;TYP
D;DQI;STUD;Anzahl;JAHRESSUMME;GANZ
K;QEI;FACH-SCHL;ZI-WERT;WERT;QUALITAET;GESPERRT
D;QEI;03001;2022;10;e;
D;QEI;03002;2022;-;x;
D;QEI;03002;2023;20;e;
"""

#: Sorted sha256 ``fact_id``s of ``cli serialize`` on TWO_MEASURE_CUBE.
TWO_MEASURE_FACT_IDS = [
    "2d9155c636f9fac869b314a27b2d196b1bd2f7e4f1fc0de2c6d8ee347ac64664",
    "554a22ef548168f3370cf2ad00d2f27053214a3238f6d17a80662b2337c60226",
    "5f66fab4afa07cddaa78aeba3bd44130fe92cebee72f13b7f989abbb35788299",
    "65ba67e278f31f741bf05a324e702b25b0df964c5f067733961cf727eafd1809",
    "830ed0f79aa5acb80007c4e0cd352e2ad3f440838433db4065d7f2f1522d25dd",
    "97dab9b56669380d3012019fc79ca71b30e2c4fee937849c3f34f45a5b928981",
    "9922d2969d04609805c1947b6550179095f27a3251845098289162f382f5b6db",
    "9cf1e4d761c7fa7dd92e7859924ce89d7ad4d210d0211d335f7d95403e689d02",
    "b4815e6dbd9046dd40873b55fff40be4256e24c0ec3379d4c57dd6f080a75ccd",
    "e8059453950c74ad8844b9e6353119c8bd253f2c4cb6463a111fd2ce9aed9e3c",
    "ea3d82f56258738861783fc8282582e03775f6702bbf9dc730169f8308f16d6a",
    "f1e1033848bde2341954aeb88a63531fe7097117c1f95f8ded72bfcaa30f82b0",
]

#: ``cli schema`` output on TWO_MEASURE_CUBE, byte for byte.
TWO_MEASURE_SCHEMA = """\
{
  "statistics": {
    "12613": {
      "measures": {
        "FLAECHE": {
          "dimensions": {
            "GES": [
              "GESM",
              "GESW"
            ],
            "NAT": [
              "NATA",
              "NATD"
            ]
          },
          "n_facts": 6,
          "n_regions": 3,
          "years": [
            2019,
            2021
          ]
        },
        "GEBURT": {
          "dimensions": {
            "GES": [
              "GESM",
              "GESW"
            ],
            "NAT": [
              "NATA",
              "NATD"
            ]
          },
          "n_facts": 6,
          "n_regions": 3,
          "years": [
            2019,
            2021
          ]
        }
      }
    }
  }
}"""

#: Sorted ``fact_id``s and exact schema.json of AXISLESS_CUBE.
AXISLESS_FACT_IDS = [
    "2648cda58bd7a981db7c70e904ad3a0892c083e9d2e2ebeae318144421486383",
    "9c627b5cdeb764da09de5a05c14b69325ef3e701508a9a944dc0180ce653acd9",
    "9ccb9a94e85f40d6770a3916b86994f9837dfa4d361384964efd843047712445",
]

AXISLESS_SCHEMA = """\
{
  "statistics": {
    "21111": {
      "measures": {
        "STUD": {
          "dimensions": {},
          "n_facts": 3,
          "n_regions": 2,
          "years": [
            2022,
            2023
          ]
        }
      }
    }
  }
}"""


def _run(tmp_path, name, text):
    cube = tmp_path / f"{name}.quader"
    cube.write_text(text)
    out_dir = tmp_path / f"{name}_docs"
    out_json = tmp_path / f"{name}.schema.json"
    assert main(["serialize", str(cube), str(out_dir)]) == 0
    assert main(["schema", str(cube), str(out_json)]) == 0
    docs = [
        json.loads(line)
        for part in sorted(out_dir.glob("part-*"))
        for line in part.read_text().splitlines()
        if line.strip()
    ]
    return docs, out_json.read_text()


def test_golden_two_measure_cube(spark, tmp_path):
    docs, schema = _run(tmp_path, "two_measure", TWO_MEASURE_CUBE)
    assert sorted(d["fact_id"] for d in docs) == TWO_MEASURE_FACT_IDS
    assert schema == TWO_MEASURE_SCHEMA


def test_golden_axisless_cube(spark, tmp_path):
    docs, schema = _run(tmp_path, "axisless", AXISLESS_CUBE)
    assert sorted(d["fact_id"] for d in docs) == AXISLESS_FACT_IDS
    assert schema == AXISLESS_SCHEMA
