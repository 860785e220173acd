"""Host sizing and the facts every result record carries."""

from __future__ import annotations

import os
import subprocess


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_gb(ram: int) -> int:
    """About half of physical memory, in whole GB, at least 1."""
    return max(1, ram // (2 << 30))


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing for pid {pid}")


TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> list[str] | None:
    """The fields of a /proc stat file after the parenthesised command
    name (which may hold spaces), or None if the process has gone."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2 :].split()


def _scan(pid: int) -> tuple[dict, dict]:
    """Own (user + system) and reaped-children clock ticks of ``pid`` and
    of every live process below it."""
    children: dict[int, list[int]] = {}
    own: dict[int, int] = {}
    reaped: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        rest = _stat_fields(f"/proc/{name}/stat")
        if rest is None:
            continue
        children.setdefault(int(rest[1]), []).append(int(name))
        own[int(name)] = int(rest[11]) + int(rest[12])
        reaped[int(name)] = int(rest[13]) + int(rest[14])
    tree: dict[int, int] = {}
    todo = [pid]
    while todo:
        p = todo.pop()
        if p in own:
            tree[p] = own[p]
        todo += children.get(p, [])
    return tree, {p: reaped[p] for p in tree}


#: Thread names (as /proc truncates them) of the JVM's JIT compilers.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds the JVM's JIT compiler threads have used. The session
    keeps them alive (``-XX:-UseDynamicNumberOfCompilerThreads``), so
    their time never moves into the process total unseen."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if stat[stat.index("(") + 1 : stat.rindex(")")].startswith(JIT_THREADS):
            total += sum(int(v) for v in stat[stat.rindex(")") + 2 :].split()[11:13])
    return total / TICK


#: The keys of ``cpu_delta``: the parts of ``cpu_parts`` and their total.
CPU_PARTS = ("python_driver", "jvm", "jit", "python_workers", "program")


def cpu_parts(pid: int, jvm_pid: int) -> dict[str, float]:
    """CPU seconds used so far by the parts of the program: the Python
    driver (``pid``), the driver JVM without its JIT compilers, the
    compilers, and the JVM's Python workers (every other process below
    ``pid``, reaped ones included). Time stolen by the hypervisor is not
    charged to a process, so CPU time holds steadier than wall time on a
    shared host."""
    own, reaped = _scan(pid)
    jit = jit_cpu_s(jvm_pid)
    driver, jvm = own.get(pid, 0), own.get(jvm_pid, 0)
    workers = sum(own.values()) + sum(reaped.values()) - driver - jvm - reaped.get(pid, 0)
    return {
        "python_driver": driver / TICK,
        "jvm": jvm / TICK - jit,
        "jit": jit,
        "python_workers": workers / TICK,
    }


def program_cpu_s(parts: dict[str, float]) -> float:
    """The program's CPU in ``cpu_parts``, JIT compilation left out: the
    compilers keep working for minutes after warm-up, and how much of
    that work fell into a given interval was what varied most between
    runs."""
    return parts["python_driver"] + parts["jvm"] + parts["python_workers"]


def cpu_delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    """``b - a`` per part, plus the program total as ``"program"``."""
    d = {k: b[k] - a[k] for k in a}
    d["program"] = program_cpu_s(d)
    return d


def cpu_layers(cpu: dict[str, float]) -> dict[str, float]:
    """The parts of an operation's CPU under their per-layer names."""
    return {f"cpu.{k}_s": v for k, v in cpu.items() if k != "program"}


#: CPU seconds of one calibration sort on a quiet 4-core Xeon host, the
#: speed ``op_cpu_norm_s`` is scaled to.
CALIBRATION_REF_S = 0.09


def calibration_cpu_s(jvm, reps: int = 5, n: int = 1_000_000) -> float:
    """How fast the host runs the driver JVM right now: the least
    thread-CPU seconds over ``reps`` sorts of ``n`` seeded random longs
    in the JVM. No Spark and no package code run in it, so a change to
    the program does not move it. A pure-Python loop tracked the
    program's slow-downs less well: sorting memory, like the engine's
    own work, slows with the host's caches and memory as well as its
    clock."""
    mx = jvm.java.lang.management.ManagementFactory.getThreadMXBean()
    times = []
    for _ in range(reps):
        arr = jvm.java.util.Random(42).longs(n).toArray()
        t0 = mx.getCurrentThreadCpuTime()
        jvm.java.util.Arrays.sort(arr)
        times.append((mx.getCurrentThreadCpuTime() - t0) / 1e9)
    return min(times)


def git_head(root: str) -> str:
    """HEAD of the checkout, or ``unknown`` where it is not a git tree."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def host_record(root: str, seed: int) -> dict:
    import pyspark

    ram = ram_bytes()
    return {
        "nproc": nproc(),
        "ram_gb": round(ram / (1 << 30), 1),
        "heap_gb": driver_heap_gb(ram),
        "pyspark": pyspark.__version__,
        "seed": seed,
        "git_head": git_head(root),
    }


def dir_bytes(path: str) -> int:
    """Bytes of the files under ``path``."""
    size = 0
    for dirpath, _, filenames in os.walk(path):
        for fn in filenames:
            try:
                size += os.lstat(os.path.join(dirpath, fn)).st_size
            except OSError:
                pass
    return size
