"""Tests of the benchmark's own logic; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import cubes, sampling, stats, verify  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER, Op, summarize, timed_op  # noqa: E402

POOL = {
    f"q_fam{i % 9}_{i}": (0.05 + (i * 37 % 101) / 50, 0.1 + (i * 53 % 89) / 30)
    for i in range(120)
}
WARM = {q: c[0] for q, c in POOL.items()}
METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")
BENCHMARK = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "BENCHMARK.json",
)


def test_same_seed_same_sample_and_order():
    a = sampling.sample(POOL, 15, seed=7)
    assert a == sampling.sample(POOL, 15, seed=7)
    assert a != sampling.sample(POOL, 15, seed=8)
    for p in range(4):
        assert sampling.pass_order(a, 7, p) == sampling.pass_order(list(a), 7, p)
        assert sorted(sampling.pass_order(a, 7, p)) == sorted(a)


def test_sample_takes_one_query_per_cost_stratum():
    for seed in range(20):
        chosen = sampling.sample(POOL, 12, seed)
        layers = sampling.strata(WARM, 12)
        assert sorted(sum(q in layer for q in chosen) for layer in layers) == [1] * 12


def test_sample_cost_is_balanced_across_seeds():
    totals = [
        [sum(POOL[q][i] for q in sampling.sample(POOL, 12, seed)) for seed in range(30)]
        for i in (0, 1)
    ]
    for t in totals:
        assert max(t) / min(t) < 1 + 2.5 * sampling.TOLERANCE


def test_sample_holds_a_required_query():
    required = frozenset(["q_fam3_93", "q_fam5_113"])
    for seed in range(10):
        assert required.intersection(sampling.sample(POOL, 8, seed, required=required))


def test_sample_spreads_over_families():
    chosen = sampling.sample(POOL, 9, seed=3)
    assert len({sampling.family(q) for q in chosen}) >= 8


def test_passes_rotate_by_seed():
    a = sampling.sample(POOL, 10, seed=1)
    assert sampling.pass_order(a, 1, 1) != sampling.pass_order(a, 1, 0)
    assert any(sampling.pass_order(a, s, 0) != sampling.pass_order(a, 1, 0) for s in range(2, 6))


def test_same_seed_same_cube_files(tmp_path):
    one = cubes.write_cubes(str(tmp_path / "a"), seed=5, count=3, lines=200)
    two = cubes.write_cubes(str(tmp_path / "b"), seed=5, count=3, lines=200)
    for (pa, ta), (pb, tb) in zip(one, two):
        assert open(pa).read() == open(pb).read()
        assert ta == tb
    other = cubes.write_cubes(str(tmp_path / "c"), seed=6, count=3, lines=200)
    assert open(one[0][0]).read() != open(other[0][0]).read()


def test_cube_holds_the_facts_it_claims():
    text, truth = cubes.make_cube(seed=2, index=1, lines=300)
    facts = [ln for ln in text.splitlines() if ln.startswith("D;QEI;")]
    assert len(facts) == 300
    assert truth["facts"] == 600
    assert any(f.split(";")[6] in cubes.NA for f in facts)
    years = {int(f.split(";")[5]) for f in facts}
    for m in truth["measures"].values():
        assert m["years"] == [min(years), max(years)]


@pytest.mark.parametrize("n", [11, 12, 40, 100])
def test_tail_keeps_ten_samples_beyond(n):
    values = [float(i) for i in range(n)]
    value, pct = stats.tail(values)
    assert sum(v > value for v in values) == 10
    assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_metric_names_are_well_formed():
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in bench[key]]
    assert all(METRIC_NAME.fullmatch(n) for n in names)
    assert [m["name"] for m in bench["end_to_end"]] == list(END_TO_END)
    assert [m["name"] for m in bench["per_layer"]] == list(PER_LAYER)


def test_raising_or_mismatching_operation_counts_as_failed():
    def boom(_):
        raise RuntimeError("engine error")

    raised = timed_op(Op("q_raise", 1, False), [("build", boom)], lambda r: True)
    wrong = timed_op(Op("q_wrong", 1, False), [("build", lambda r: 1)], lambda r: False)
    good = timed_op(Op("q_good", 1, False), [("build", lambda r: 1)], lambda r: True)
    assert not raised.ok and not wrong.ok and good.ok
    # A failed operation never enters the latency sample.
    slow = Op("q_slow", 1, False, ok=True, phases={"build": 5.0}, cpu={"build": 5.0})
    fast_failed = Op("q_fast", 1, False, ok=False, phases={"build": 0.001}, cpu={"build": 0.0})
    first = [Op("q_first", 0, False, ok=True, phases={"build": 1.0}, cpu={"build": 1.0})]
    later = [[slow, fast_failed] for _ in range(3)]
    setups = [{"setup_s": 1.0}]
    metrics = summarize([first, *later], setups, rss=1.0, k=4, traced=False)
    assert metrics["op_p50_cpu_s"] == 5.0
    # Nor does it shorten a pass: it is charged the mean of the ok ones.
    assert metrics["pass_cpu_s"] == 10.0


def test_raising_serialize_does_not_raise_throughput():
    def boom(_):
        raise RuntimeError("write failed")

    def cube(i, pass_no, raising):
        if raising:
            # As EtlWorkload.run does: the facts are set after the timed phases.
            op = timed_op(Op(f"c{i}", pass_no, False), [("serialize", boom)], lambda r: True)
        else:
            op = Op(f"c{i}", pass_no, False, ok=True, phases={"serialize": 1.0, "schema": 0.5},
                    cpu={"serialize": 1.0, "schema": 0.5})
        op.facts = 6000
        return op

    def metrics(raising: bool):
        passes = [[cube(i, p, raising and i == 0) for i in range(12)] for p in range(3)]
        return summarize(passes, [{"setup_s": 1.0}], rss=1.0, k=4, traced=False)

    clean, failing = metrics(False), metrics(True)
    assert clean["throughput_per_cpu_s"] == failing["throughput_per_cpu_s"] == 6000.0
    # 12 cubes of 1.5 s a pass, the failed one charged the ok ones' mean.
    assert failing["pass_cpu_s"] == clean["pass_cpu_s"] == 18.0
    assert failing["first_pass_cpu_s"] == clean["first_pass_cpu_s"] == 18.0


def test_fingerprint_match_rules():
    assert verify.matches({"rows": 3, "hash": "1"}, {"rows": 3, "hash": "1"})
    assert not verify.matches({"rows": 3, "hash": "2"}, {"rows": 3, "hash": "1"})
    assert not verify.matches({"rows": 4, "hash": "1"}, {"rows": 3, "hash": "1"})
    # rows-only queries compare the row count alone
    assert verify.matches({"rows": 3, "hash": "9"}, {"rows": 3, "hash": None})


def test_etl_check_catches_missing_and_duplicate_documents(tmp_path):
    _text, truth = cubes.make_cube(seed=4, index=0, lines=3)
    out = tmp_path / "out"
    out.mkdir()
    schema = tmp_path / "schema.json"
    schema.write_text(json.dumps(
        {"statistics": {truth["statistic"]: {"measures": truth["measures"]}}}
    ))
    docs = [json.dumps({"fact_id": f"id{i}", "doc": "{}"}) for i in range(truth["facts"])]
    (out / "part-0.json").write_text("\n".join(docs) + "\n")
    assert verify.check_etl(str(out), str(schema), truth) == []
    (out / "part-0.json").write_text("\n".join(docs[:-1] + [docs[0]]) + "\n")
    problems = verify.check_etl(str(out), str(schema), truth)
    assert any("duplicate fact_id" in p for p in problems)
    (out / "part-0.json").write_text("\n".join(docs[:-1]) + "\n")
    assert any("documents for" in p for p in verify.check_etl(str(out), str(schema), truth))
    schema.write_text(json.dumps({"statistics": {}}))
    (out / "part-0.json").write_text("\n".join(docs) + "\n")
    assert verify.check_etl(str(out), str(schema), truth) != []


def test_operation_cpu_counts_child_processes():
    import subprocess

    from perfbench import inputs

    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    op = timed_op(Op("burn", 1, False),
                  [("child", lambda r: subprocess.run([sys.executable, "-c", burn], check=True))],
                  lambda r: True)
    assert op.ok and op.cpu_s >= 0.25
    assert inputs.CpuClock().read()[0] > 0


def test_job_cover_is_the_clipped_union():
    from perfbench.trace import covered

    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert covered([], 0, 1) == 0
