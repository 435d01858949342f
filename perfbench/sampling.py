"""Seeded choice of the registry sample and of each pass's order.

The sample must cost about the same for every seed, because the steadiness
runs compare different seeds. So it is stratified on warm cost (one query
per stratum) and balanced on cold cost: among seeded draws the first whose
warm and cold totals both lie within ``TOLERANCE`` of the pool's expected
totals is kept. Inside each stratum the pick prefers a family the sample
does not hold yet; a family is the ``q_<family>_`` prefix of a query name.
A draw must also hold at least one ``required`` query (the benchmark passes
the queries whose plans cross the Python/Arrow UDF boundary), so every
layer is exercised.
"""

from __future__ import annotations

import random

#: Largest accepted deviation of the sample's cost totals from n x pool mean.
TOLERANCE = 0.03
DRAWS = 2000


def family(name: str) -> str:
    parts = name.split("_")
    return parts[1] if len(parts) > 2 else name


def strata(warm: dict[str, float], n: int) -> list[list[str]]:
    """Split the pool, sorted by warm cost then name, into ``n`` contiguous
    strata whose sizes differ by at most one."""
    ranked = sorted(warm, key=lambda q: (warm[q], q))
    if not 0 < n <= len(ranked):
        raise ValueError(f"sample size {n} outside 1..{len(ranked)}")
    out, start = [], 0
    for i in range(n):
        end = start + len(ranked) // n + (1 if i < len(ranked) % n else 0)
        out.append(ranked[start:end])
        start = end
    return out


def _draw(layers: list[list[str]], rng: random.Random) -> list[str]:
    chosen: list[str] = []
    seen: set[str] = set()
    # Visit strata in a seeded order so no cost band always gets first pick
    # of the unseen families.
    for idx in rng.sample(range(len(layers)), len(layers)):
        layer = layers[idx]
        fresh = [q for q in layer if family(q) not in seen]
        pick = rng.choice(fresh or layer)
        chosen.append(pick)
        seen.add(family(pick))
    return chosen


def sample(
    pool: dict[str, tuple[float, float]], n: int, seed: int, required: frozenset = frozenset()
) -> list[str]:
    """``n`` queries from ``pool`` (name -> (warm, cold) wall), chosen by
    ``seed`` and holding one of ``required`` if that is not empty; returned
    in the order of the first pass (a seeded shuffle)."""
    warm = {q: c[0] for q, c in pool.items()}
    layers = [sorted(layer) for layer in strata(warm, n)]
    targets = [n * sum(c[i] for c in pool.values()) / len(pool) for i in (0, 1)]
    best, best_dev = None, float("inf")
    for draw in range(DRAWS):
        rng = random.Random(f"sample:{seed}:{draw}")
        chosen = _draw(layers, rng)
        if required and required.isdisjoint(chosen):
            continue
        dev = max(
            abs(sum(pool[q][i] for q in chosen) / targets[i] - 1) for i in (0, 1)
        )
        if dev < best_dev:
            best, best_dev = chosen, dev
        if dev <= TOLERANCE:
            break
    if best is None:
        raise ValueError("no draw holds a required query")
    random.Random(f"order:{seed}").shuffle(best)
    return best


def pass_order(chosen: list, seed: int, pass_no: int) -> list:
    """Pass ``pass_no`` (0 = first pass) runs the sample rotated by a
    seed-dependent offset that moves on each pass, so each query meets
    different neighbours."""
    n = len(chosen)
    if n == 0:
        return []
    rng = random.Random(f"rotate:{seed}")
    start, step = rng.randrange(n), 1 + rng.randrange(max(1, n - 1))
    k = (start + pass_no * step) % n
    return chosen[k:] + chosen[:k]
