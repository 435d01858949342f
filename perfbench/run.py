#!/usr/bin/env python3
"""Engine benchmark: seeded workloads driven through the engine's public
entry points, verified outside the timed windows, reported as one JSON line.

    python3 perfbench/run.py --workload mix-sf0.1 --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer ones (see README.md). The first run of
a workload generates its inputs under ``.bench_build/perfbench``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # process start: every setup_s counts from here

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import cubes, engine, inputs, sampling, stats, trace, verify  # noqa: E402

#: Cold setups of an untraced run; setup_s is their median. Each costs a JVM
#: start and the warmup (12-20 s at k=4), so two keep a run inside the time
#: budget. The traced run, which does not report setup_s, sets up once.
SETUPS = 2
#: Seed of the mix sample. The sample is fixed and --seed orders the passes:
#: with about ten queries a pass, seed-chosen samples differed in cost by
#: 12-40% between seeds (first-pass and pass walls), far beyond the bounds,
#: while one sample rerun moved 3-8%.
SAMPLE_SEED = 0
#: Queries in the mix sample and cubes in the ETL set: each pass runs every
#: item once. A run makes a first pass and at least ``later_passes`` more
#: (more while the later passes have measured less than --seconds): 30
#: later operations on the mix, so op_tail_cpu_s (ten samples beyond it) is
#: their p66.7, and 20 on the cubes, where it is the p50. Three later passes
#: give each query a median that drops a one-off cost; a fifth cube pass
#: would cost 4-8 s more per run at k=4. The cubes are alike in size, so
#: five of them give a steady median over four passes; the queries are not,
#: and fewer than ten let the query at the median decide op_p50_cpu_s.
QUERIES = 10
CUBES = 5
#: Fact lines per generated cube (two measures each, so twice the facts).
CUBE_LINES = 1000
#: The mix pool keeps the queries whose warm and cold walls (in
#: fingerprints.json) are small, so a pass holds about ten queries: with six
#: the operation latencies fall on six levels, and which query sits at the
#: median flipped op_p50_s by 20% between runs.
MAX_WARM_S = 0.5
MAX_COLD_S = 1.0

FINGERPRINTS = os.path.join(inputs.HERE, "fingerprints.json")
CLOCK = inputs.CpuClock()

END_TO_END = {
    "setup_s": "s",
    "first_pass_cpu_s": "s",
    "pass_cpu_s": "s",
    "op_p50_cpu_s": "s",
    "op_tail_cpu_s": "s",
    "throughput_per_cpu_s": "1/s",
}
PER_LAYER = {
    "session.build_s": "s",
    "registry.load_all_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MiB",
    "operators.build_s": "s",
    "operators.build_share": "ratio",
    "operators.build_jobs": "count",
    "operators.build_job_s": "s",
    "io.memo_first_pass_jobs": "count",
    "spark.driver_gap_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.slot_util": "ratio",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "functions.udf_ops": "count",
    "functions.udf_exec_s": "s",
    "cli.serialize_s": "s",
    "cli.schema_s": "s",
    "sources.output_bytes": "bytes",
    "sources.write_amp": "ratio",
    "trace.overhead_s": "s",
    "spark.jit_cpu_s": "s",
    "wall.first_pass_s": "s",
    "wall.pass_s": "s",
    "wall.op_p50_s": "s",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


@dataclass
class Op:
    """One timed operation: its phases' wall and CPU seconds and, when
    traced, their jobs."""

    name: str
    pass_no: int
    traced: bool
    ok: bool = False
    phases: dict = field(default_factory=dict)  # phase -> wall seconds
    cpu: dict = field(default_factory=dict)  # phase -> CPU seconds but JIT compilation
    jit: dict = field(default_factory=dict)  # phase -> JIT compiler CPU seconds
    jobs: dict = field(default_factory=dict)  # phase -> Tracer.jobs totals
    udf: bool = False
    facts: int = 0
    in_bytes: int = 0
    out_bytes: int = 0
    check_s: float = 0.0

    @property
    def wall(self) -> float:
        return sum(self.phases.values())

    @property
    def cpu_s(self) -> float:
        return sum(self.cpu.values())


def timed_op(op: Op, phases, check, tracer=None) -> Op:
    """Run ``phases`` (name -> callable, in order) as one timed operation,
    then ``check`` its result outside the timed window. An operation that
    raises or fails its check is marked failed; latency statistics skip it."""
    spans = {}
    result = None
    try:
        for phase, fn in phases:
            group = tracer.begin(phase) if tracer else None
            c0, j0 = CLOCK.read()
            lo, p0 = time.time(), time.perf_counter()
            result = fn(result)
            op.phases[phase] = time.perf_counter() - p0
            c1, j1 = CLOCK.read()
            op.cpu[phase], op.jit[phase] = (c1 - c0) - (j1 - j0), j1 - j0
            spans[phase] = (group, lo, time.time())
    except Exception as e:  # noqa: BLE001 - counted, never fatal
        log(f"# FAILED {op.name}: {type(e).__name__}: {str(e)[:300]}")
        return op
    finally:
        if tracer:
            tracer.end()
    c0 = time.perf_counter()
    try:
        op.ok = bool(check(result))
    except Exception as e:  # noqa: BLE001
        log(f"# CHECK ERROR {op.name}: {type(e).__name__}: {str(e)[:300]}")
    op.check_s = time.perf_counter() - c0
    if not op.ok:
        log(f"# MISMATCH {op.name}")
    if tracer:
        op.jobs = {p: tracer.jobs(g, lo, hi) for p, (g, lo, hi) in spans.items()}
    return op


class Workload:
    """Items run in a first pass and later passes, each pass in a
    seed-rotated order; the traced run traces some of the later passes."""

    kind = ""
    later_passes = 0
    order: list = []

    def items(self, seed: int, pass_no: int) -> list:
        return sampling.pass_order(self.order, seed, pass_no)


class QueryWorkload(Workload):
    """Registry queries on a generated lake: ``q.fn`` then a noop write."""

    kind = "query"
    later_passes = 3

    def prepare(self, seed: int) -> None:
        self.lake = inputs.ensure_lake()
        with open(FINGERPRINTS) as fh:
            self.expected = json.load(fh)["queries"]
        pool = {q: (v["warm_s"], v["cold_s"]) for q, v in self.expected.items()
                if v["warm_s"] <= MAX_WARM_S and v["cold_s"] <= MAX_COLD_S}
        udf = frozenset(q for q in pool if self.expected[q]["udf"])
        self.order = sampling.sample(pool, QUERIES, SAMPLE_SEED, required=udf)
        log(f"# sample ({QUERIES} of {len(pool)}): {' '.join(self.order)}")

    def run(self, spark, name: str, op: Op, tracer, verify_output: bool) -> Op:
        from genesapi_cli_spark.registry import REGISTRY

        q = REGISTRY[name]

        def build(_):
            return q.fn(spark, self.lake)

        def execute(df):
            engine.materialize(df)
            return df

        def check(df):
            if tracer:
                op.udf = trace.uses_python(df)
            return not verify_output or verify.matches(
                verify.fingerprint(df), self.expected[name]
            )

        return timed_op(op, [("build", build), ("exec", execute)], check, tracer)


class EtlWorkload(Workload):
    """genesapi's per-cube pipeline: ``cli serialize`` then ``cli schema``."""

    kind = "etl"
    later_passes = 4

    def prepare(self, seed: int) -> None:
        self.root = os.path.join(inputs.DATA, "etl")
        self.cubes = cubes.write_cubes(
            os.path.join(self.root, "in"), seed, CUBES, CUBE_LINES
        )
        self.order = list(range(CUBES))
        log(f"# {CUBES} cubes x {2 * CUBE_LINES} facts")

    def run(self, spark, index: int, op: Op, tracer, verify_output: bool) -> Op:
        path, truth = self.cubes[index]
        out_dir = os.path.join(self.root, "out", f"cube_{index:03d}")
        schema_json = out_dir + ".schema.json"
        from genesapi_cli_spark import cli

        def serialize(_):
            with contextlib.redirect_stdout(sys.stderr):
                cli.main(["serialize", path, out_dir])

        def schema(_):
            with contextlib.redirect_stdout(sys.stderr):
                cli.main(["schema", path, schema_json])

        def check(_):
            if not verify_output:
                return True
            problems = verify.check_etl(out_dir, schema_json, truth)
            for p in problems:
                log(f"# {os.path.basename(path)}: {p}")
            return not problems

        timed_op(op, [("serialize", serialize), ("schema", schema)], check, tracer)
        op.facts = truth["facts"]
        op.out_bytes = verify.ndjson_bytes(out_dir)
        op.in_bytes = os.path.getsize(path)
        return op


WORKLOADS = {
    "mix-sf0.1": QueryWorkload,
    "etl-cubes": EtlWorkload,
}


def setup_in_child(workload: str) -> dict:
    """One more cold setup, in a process of its own that has fully exited
    before this returns."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", workload, "--setup-only"],
        cwd=inputs.ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, check=True, timeout=170,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def pass_layers(ops: list[Op], k: int) -> dict:
    """Per-layer totals of one traced pass."""
    def total(phases, key):
        return sum(o.jobs[p][key] for o in ops for p in phases if p in o.jobs)

    every = {p for o in ops for p in o.jobs}
    build = {"build"}
    exec_wall = sum(w for o in ops for p, w in o.phases.items() if p != "build")
    build_wall = sum(o.phases.get("build", 0.0) for o in ops)
    job_s = total(every, "job_s")
    out = {
        "operators.build_s": build_wall,
        "operators.build_share": build_wall / (build_wall + exec_wall),
        "operators.build_jobs": total(build, "jobs"),
        "operators.build_job_s": total(build, "job_s"),
        "spark.driver_gap_s": exec_wall - total(every - build, "job_s"),
        "spark.jobs": total(every, "jobs"),
        "spark.stages": total(every, "stages"),
        "spark.tasks": total(every, "tasks"),
        "spark.slot_util": total(every, "task_run_s") / (job_s * k) if job_s else 0.0,
        "functions.udf_ops": sum(o.udf for o in ops),
        "functions.udf_exec_s": sum(o.phases.get("exec", 0.0) for o in ops if o.udf),
        "cli.serialize_s": sum(o.phases.get("serialize", 0.0) for o in ops),
        "cli.schema_s": sum(o.phases.get("schema", 0.0) for o in ops),
        "sources.output_bytes": sum(o.out_bytes for o in ops),
    }
    for key in trace.STAGE_FIELDS:
        out[f"spark.{key}"] = total(every, key)
    in_bytes = sum(o.in_bytes for o in ops)
    out["sources.write_amp"] = out["sources.output_bytes"] / in_bytes if in_bytes else 0.0
    return out


def pass_total(ops: list[Op], key: str = "wall") -> float:
    """Timed wall (or, with ``key="cpu_s"``, CPU seconds) of a pass, each
    failed operation charged the mean of the pass's ok ones: a failure makes
    the pass read neither fast nor slow."""
    ok = [getattr(o, key) for o in ops if o.ok]
    if not ok:
        raise RuntimeError("every operation of a pass failed")
    return sum(ok) * len(ops) / len(ok)


def median_pass(later: list[list[Op]], key: str) -> float:
    """A later pass made of each item's median over the later passes: a
    one-off cost (a GC cycle, a cleanup) in one pass of one item drops out.
    An item with no ok operation is charged the mean of the others."""
    per_item: dict[str, list[float]] = {}
    for o in (o for p in later for o in p):
        per_item.setdefault(o.name, [])
        if o.ok:
            per_item[o.name].append(getattr(o, key))
    meds = [stats.median(v) for v in per_item.values() if v]
    if not meds:
        raise RuntimeError("every later operation failed")
    return sum(meds) * len(per_item) / len(meds)


def summarize(passes: list[list[Op]], setups: list[dict], rss: float, k: int, traced: bool):
    later = [p for p in passes[1:] if all(o.traced == traced for o in p)]
    walls = [pass_total(p) for p in later]
    ok = [o for p in later for o in p if o.ok]
    if not traced:
        cpu = [o.cpu_s for o in ok]
        tail, pct = stats.tail(cpu)
        facts = sum(o.facts for o in ok)
        if facts:
            throughput = facts / sum(o.cpu["serialize"] for o in ok)
        else:
            throughput = len(ok) / sum(cpu)
        log(f"# op_tail_cpu_s is p{pct:.1f} of {len(cpu)} later operations")
        log(f"# wall: first pass {pass_total(passes[0]):.3f} s, pass {stats.median(walls):.3f} s,"
            f" op p50 {stats.median([o.wall for o in ok]):.3f} s")
        return {
            "setup_s": stats.median([s["setup_s"] for s in setups]),
            "first_pass_cpu_s": pass_total(passes[0], "cpu_s"),
            "pass_cpu_s": median_pass(later, "cpu_s"),
            "op_p50_cpu_s": stats.median(cpu),
            "op_tail_cpu_s": tail,
            "throughput_per_cpu_s": throughput,
        }
    layers = [pass_layers(p, k) for p in later]
    out = {key: stats.median([s[key] for s in setups]) for key in
           ("session.build_s", "registry.load_all_s", "session.warmup_s")}
    out["session.peak_rss_mb"] = rss
    for key in layers[0]:
        out[key] = stats.median([lay[key] for lay in layers])
    first = pass_layers(passes[0], k)
    out["io.memo_first_pass_jobs"] = first["operators.build_jobs"] - out["operators.build_jobs"]
    untraced = [p for p in passes[1:] if not p[0].traced]
    out["spark.jit_cpu_s"] = stats.median([sum(sum(o.jit.values()) for o in p) for p in later])
    out["wall.pass_s"] = stats.median([pass_total(p) for p in untraced])
    out["wall.first_pass_s"] = pass_total(passes[0])
    out["wall.op_p50_s"] = stats.median([o.wall for p in untraced for o in p if o.ok])
    out["trace.overhead_s"] = stats.median(walls) - out["wall.pass_s"]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()

    import genesapi_cli_spark  # noqa: F401 - fails fast outside a checkout

    inputs.confine_env()
    k = inputs.cores()
    workload = WORKLOADS[args.workload]()
    if args.setup_only:
        spark, parts = engine.setup(workload.kind, k)
        parts["setup_s"] = time.perf_counter() - T0
        engine.shutdown(spark)
        print(json.dumps(parts))
        return 0

    pre = time.perf_counter() - T0
    workload.prepare(args.seed)
    c0 = time.perf_counter()
    setups = [setup_in_child(args.workload) for _ in range(0 if args.trace else SETUPS - 1)]
    log(f"# child setups: {time.perf_counter() - c0:.3f} s wall")
    t_setup = time.perf_counter()
    spark, parts = engine.setup(workload.kind, k)
    parts["setup_s"] = pre + time.perf_counter() - t_setup
    setups.append(parts)

    tracer = trace.Tracer(spark.sparkContext) if args.trace else None
    passes = []
    later_wall = 0.0
    ticks = inputs.cpu_ticks()
    try:
        pass_no = 0
        while (pass_no <= workload.later_passes or later_wall < args.seconds
               or (tracer and pass_no % 4 != 1)):
            # The traced run traces the first pass and its later passes in
            # ABBA order (traced, untraced, untraced, traced, ...), whole
            # groups of four, so the tracing overhead is measured inside one
            # session and the passes' warming drift cancels.
            traced = bool(tracer) and pass_no % 4 in (0, 1)
            # Outputs are verified on the first pass: every item once. A
            # check runs the query again, so on a later pass it would leave
            # that pass less warmed than the next (see README.md).
            verify_output = pass_no == 0
            ops = []
            for item in workload.items(args.seed, pass_no):
                op = Op(str(item), pass_no, traced)
                ops.append(workload.run(
                    spark, item, op, tracer if traced else None, verify_output
                ))
                log(f"# op {pass_no} {op.name} {op.wall:.3f} s, {op.cpu_s:.2f} s CPU")
            passes.append(ops)
            wall = sum(o.wall for o in ops)
            later_wall += wall if pass_no else 0.0
            log(f"# pass {pass_no}: {wall:.3f} s timed, {sum(o.cpu_s for o in ops):.2f} s CPU"
                f" + {sum(sum(o.jit.values()) for o in ops):.2f} s JIT,"
                f" {sum(o.check_s for o in ops):.3f} s checks")
            pass_no += 1
        rss = engine.peak_rss_mb(spark)
        steal = inputs.steal_share(ticks)
        log(f"# host steal: {100 * steal:.1f}% of CPU time during the passes")
    finally:
        c0 = time.perf_counter()
        engine.shutdown(spark)
        log(f"# shutdown: {time.perf_counter() - c0:.3f} s")

    metrics = summarize(passes, setups, rss, k, bool(args.trace))
    units = PER_LAYER if args.trace else END_TO_END
    attempted = sum(len(p) for p in passes)
    failed = sum(not o.ok for p in passes for o in p)
    if args.trace:
        spans = [
            {"op": o.name, "pass": o.pass_no, "ok": o.ok, "phases": o.phases, "jobs": o.jobs,
             "udf": o.udf}
            for p in passes for o in p
        ]
        path = os.path.join(inputs.DATA, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"setups": setups, "ops": spans, "k": k}, fh)
        log(f"# spans written to {path}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m: {"value": metrics[m], "unit": u} for m, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
