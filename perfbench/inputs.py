"""Where the benchmark keeps its generated inputs, and how it builds them.

Everything lives under ``.bench_build/perfbench`` in the checkout: the sf0.1
lake written by ``scripts/gen_scale.py``, the cube files, the outputs of the ETL
workload, and the scratch directories of Spark, the JVM and Python."""

from __future__ import annotations

import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".bench_build", "perfbench")
TMP = os.path.join(DATA, "tmp")
#: Scale factor of the query workload's lake.
SF = "0.1"
LAKE = os.path.join(DATA, "lake", f"sf{SF}")


def cores() -> int:
    """``k`` of ``local[k]``: 8, or the usable core count if that is smaller."""
    return min(8, len(os.sched_getaffinity(0)))


def confine_env() -> None:
    """Point every scratch location at the checkout before a JVM starts.
    ``-XX:-UsePerfData`` stops the JVM's hsperfdata file, which HotSpot
    writes under the system temp directory whatever ``java.io.tmpdir`` is."""
    os.makedirs(TMP, exist_ok=True)
    local = os.path.join(DATA, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={TMP} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def lake_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(path) for f in fs
    )


def ensure_lake() -> str:
    """Generate the lake once (deterministic, untimed); a stamp file marks a
    complete generation so an interrupted one is redone."""
    stamp = LAKE + ".done"
    if not os.path.exists(stamp):
        env = dict(os.environ, SPARK_GRAFT_SCALE_ROOT=os.path.dirname(LAKE))
        log = os.path.join(DATA, f"gen_sf{SF}.log")
        with open(log, "w") as fh:
            subprocess.run(
                [sys.executable, os.path.join("scripts", "gen_scale.py"), SF],
                cwd=ROOT, env=env, stdout=fh, stderr=subprocess.STDOUT, check=True,
            )
        with open(stamp, "w") as fh:
            fh.write(str(lake_bytes(LAKE)))
    return LAKE


def cpu_ticks() -> list[int]:
    """The host's CPU time counters (the ``cpu`` line of /proc/stat:
    user, nice, system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(since: list[int]) -> float:
    """Share of CPU time the hypervisor gave other guests since ``since``:
    the contention that makes wall times on a shared host swing."""
    delta = [b - a for a, b in zip(since, cpu_ticks())]
    return delta[7] / sum(delta) if sum(delta) else 0.0



#: Names (as the kernel truncates them) of HotSpot's JIT compiler threads.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    """Name and the fields after it of a /proc ``stat`` file."""
    with open(path) as fh:
        text = fh.read()
    return text[text.index("(") + 1:text.rindex(")")], text.rsplit(")", 1)[1].split()


class CpuClock:
    """CPU seconds spent so far by this process and its descendants (the
    JVM and its Python workers), and the part of them spent by the JVM's JIT
    compiler threads.

    The kernel charges a process no time the hypervisor gave other guests
    (steal), which wall time includes. JIT compilation runs on threads of
    its own, whenever HotSpot finds code hot, so the operation that happens
    to run meanwhile is charged for it; keeping it apart lets the benchmark
    report it separately. A compiler thread that exits between two reads
    takes its last share with it into the rest; HotSpot retires only idle
    ones."""

    def __init__(self) -> None:
        self._jit_ticks: dict[tuple[int, int], int] = {}
        self._jit = 0

    def read(self) -> tuple[float, float]:
        """(all CPU seconds, JIT compiler CPU seconds), both cumulative."""
        parent, ticks, names = {}, {}, {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    comm, fields = _stat(f"/proc/{name}/stat")
                except OSError:  # exited meanwhile
                    continue
                pid = int(name)
                parent[pid], names[pid] = int(fields[1]), comm
                ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        total, todo, jit = 0, [os.getpid()], {}
        while todo:
            pid = todo.pop()
            total += ticks.get(pid, 0)
            todo.extend(children.get(pid, ()))
            if names.get(pid) == "java":
                jit.update(self._jit_threads(pid))
        self._jit += sum(t - self._jit_ticks.get(key, 0) for key, t in jit.items())
        self._jit_ticks = jit
        hz = os.sysconf("SC_CLK_TCK")
        return total / hz, self._jit / hz

    @staticmethod
    def _jit_threads(pid: int) -> dict[tuple[int, int], int]:
        out = {}
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                comm, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if comm in JIT_THREADS:
                out[(pid, int(tid))] = int(fields[11]) + int(fields[12])
        return out

