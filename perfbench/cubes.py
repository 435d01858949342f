"""Seeded synthetic GENESIS "Quader" cube files, with the facts they hold.

Each cube has the K;/D; header records the engine's parser reads, a
regional axis plus two dimension axes, a JAHR time axis and two measures.
Some values are the NA tokens of GENESIS exports (``...``, ``-``, ``x``,
``.``) and some use the decimal comma. Every cube holds exactly
``lines`` fact records, so the work per cube does not depend on the seed;
the seed picks statistic codes, axes, members, years, values and NA spots.
"""

from __future__ import annotations

import itertools
import os
import random

NA = ("...", "-", "x", ".")

#: Dimension axes a cube may carry: code -> members.
AXES = {
    "GES": ["GESM", "GESW"],
    "NAT": ["NATA", "NATD"],
    "ALTX20": [f"ALT{a:03d}B{a + 5:02d}" for a in range(0, 95, 5)],
    "FAMST": ["FAMST01", "FAMST02", "FAMST03", "FAMST04"],
    "WZ08": [f"WZ08-{c}" for c in "ABCDEFGHIJKLMNOPQRS"],
    "BILKAT": [f"BILKAT{i:02d}" for i in range(1, 9)],
}

#: Measures a cube may carry: (name, unit, type). FEST values get a decimal comma.
MEASURES = [
    ("BEVSTD", "Anzahl", "GANZ"),
    ("FLAECHE", "qkm", "FEST"),
    ("ERWTAT", "Anzahl", "GANZ"),
    ("EINK", "EUR", "FEST"),
    ("GEBURT", "Anzahl", "GANZ"),
]


def make_cube(seed: int, index: int, lines: int) -> tuple[str, dict]:
    """Cube text plus what it must serialize to: ``{"statistic", "facts",
    "measures": {name: {"n_facts", "n_regions", "years", "dimensions"}}}``."""
    rng = random.Random(f"cube:{seed}:{index}")
    statistic = f"{10000 + (seed * 7919 + index * 104729) % 89999:05d}"
    cube = f"{statistic}BJ{index % 1000:03d}"
    dims = rng.sample(sorted(AXES), 2)
    measures = rng.sample(MEASURES, 2)
    year0 = rng.randrange(1995, 2012)
    years = list(range(year0, year0 + rng.randrange(4, 12)))
    members = [rng.sample(AXES[d], rng.randrange(2, len(AXES[d]) + 1)) for d in dims]
    per_region = len(years) * len(members[0]) * len(members[1])
    regions = [f"{r:05d}" for r in rng.sample(range(1000, 17000), -(-lines // per_region))]

    text = [
        "K;DQ;FACH-SCHL;GHH-ART;TS-GED;KTX;PROD-STAND",
        f"D;DQ;{cube};;N;Synthetic {statistic};01.01.2024",
        "K;DQA;NAME;RHF-BSR;RHF-ACHSE",
        "D;DQA;DINSG;1;1",
        f"D;DQA;{dims[0]};2;2",
        f"D;DQA;{dims[1]};3;3",
        "K;DQZ;NAME;ZI-RHF-BSR",
        "D;DQZ;JAHR;4",
        "K;DQI;NAME;ME-NAME;DST;TYP",
        *(f"D;DQI;{m};{u};JAHRESSUMME;{t}" for m, u, t in measures),
        "K;QEI;FACH-SCHL;FACH-SCHL;FACH-SCHL;ZI-WERT;"
        + ";".join("WERT;QUALITAET;GESPERRT" for _ in measures),
    ]
    seen_regions: set[str] = set()
    seen_years: set[int] = set()
    seen = [set(), set()]
    cells = itertools.product(regions, members[0], members[1], years)
    for region, a, b, year in itertools.islice(cells, lines):
        seen_regions.add(region)
        seen_years.add(year)
        seen[0].add(a)
        seen[1].add(b)
        groups = []
        for _m, _u, vtype in measures:
            if rng.random() < 0.06:
                groups.append(f"{rng.choice(NA)};{rng.choice('gx')};")
            elif vtype == "FEST":
                groups.append(f"{rng.randrange(0, 10**6)},{rng.randrange(10)};e;")
            else:
                groups.append(f"{rng.randrange(0, 10**7)};e;")
        text.append(f"D;QEI;{region};{a};{b};{year};" + ";".join(groups))

    dimensions = {dims[i]: sorted(seen[i]) for i in range(2)}
    truth = {
        "statistic": statistic,
        "facts": lines * len(measures),
        "measures": {
            m: {
                "n_facts": lines,
                "n_regions": len(seen_regions),
                "years": [min(seen_years), max(seen_years)],
                "dimensions": dimensions,
            }
            for m, _u, _t in measures
        },
    }
    return "\n".join(text) + "\n", truth


def write_cubes(root: str, seed: int, count: int, lines: int) -> list[tuple[str, dict]]:
    """Write ``count`` cubes under ``root``; returns (path, truth) per cube."""
    os.makedirs(root, exist_ok=True)
    out = []
    for i in range(count):
        text, truth = make_cube(seed, i, lines)
        path = os.path.join(root, f"cube_{i:03d}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(text)
        out.append((path, truth))
    return out
