"""CPU accounting for the benchmark's own process tree, read from /proc.

The tree is this (driver) Python process, the Spark JVM it launches, and
every process below the JVM (the pyspark daemon and its Python workers).
A process's CPU is counted while it lives from its own ``stat`` and, once
it has exited and been reaped, from its parent's ``cutime``/``cstime``, so
each process is counted exactly once. JVM threads are grouped by name
(``/proc/<jvm>/task/*/stat``). Everything here only reads /proc.
"""

from __future__ import annotations

import glob
import os
import threading

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")

# JVM thread classes by the 15-character name Linux keeps for each thread.
THREAD_CLASSES = ("task", "jit", "gc", "driver")
SAMPLE_S = 0.2  # how often a ThreadSampler reads the JVM's threads


def thread_class(comm: str) -> str:
    if comm.startswith("Executor task"):
        return "task"
    if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")) \
            or comm == "Sweeper thread":
        return "jit"
    if comm.startswith(("GC Thread", "G1 ")) or comm == "VM Thread":
        return "gc"
    return "driver"  # py4j (Thread-N), DAG scheduler, RPC dispatch, ...


def _stat(path: str) -> tuple[str, int, int, int] | None:
    """(comm, ppid, own ticks, reaped-children ticks) or None if gone."""
    try:
        with open(path) as f:
            s = f.read()
    except OSError:
        return None
    comm = s[s.index("(") + 1:s.rindex(")")]
    rest = s[s.rindex(")") + 2:].split()
    return (comm, int(rest[1]), int(rest[11]) + int(rest[12]),
            int(rest[13]) + int(rest[14]))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in glob.glob("/proc/[0-9]*/stat"):
        st = _stat(p)
        if st is not None:
            kids.setdefault(st[1], []).append(int(p.split("/")[2]))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def find_jvm(pid: int | None = None) -> int | None:
    """The java process below ``pid`` (default: this process)."""
    for p in descendants(pid or os.getpid()):
        st = _stat(f"/proc/{p}/stat")
        if st is not None and st[0] == "java":
            return p
    return None


def _threads(jvm: int) -> dict[int, tuple[str, int]]:
    """tid -> (thread class, cumulative ticks) for the JVM's live threads."""
    out = {}
    for t in glob.glob(f"/proc/{jvm}/task/*/stat"):
        st = _stat(t)
        if st is not None:
            out[int(t.split("/")[4])] = (thread_class(st[0]), st[2])
    return out


class ThreadSampler:
    """Reads the JVM's threads every ``SAMPLE_S`` seconds on a daemon
    thread and remembers each thread's last reading, so the CPU of a thread
    that exits between two snapshots stays with its class. HotSpot stops
    idle compiler threads and starts new ones, and without sampling their
    CPU lands in ``driver``. Traced runs use one."""

    def __init__(self, jvm: int):
        self.jvm = jvm
        self.last: dict[int, tuple[str, int]] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_S):
            self.read()

    def read(self) -> dict[int, tuple[str, int]]:
        live = _threads(self.jvm)
        with self._lock:
            self.last.update(live)
            return dict(self.last)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def snapshot(jvm: int, sampler: ThreadSampler | None = None) -> dict:
    """Cumulative CPU ticks: per JVM thread, per process class, total."""
    me = _stat("/proc/self/stat")
    jv = _stat(f"/proc/{jvm}/stat")
    threads = sampler.read() if sampler else _threads(jvm)
    workers = jv[3] if jv else 0  # reaped children of the JVM
    for p in descendants(jvm):
        st = _stat(f"/proc/{p}/stat")
        if st is not None:
            workers += st[2] + st[3]
    self_ticks = me[2] + me[3]
    jvm_ticks = jv[2] if jv else 0
    return {"threads": threads, "self": self_ticks, "jvm": jvm_ticks,
            "pyworker": workers, "total": self_ticks + jvm_ticks + workers}


def delta(a: dict, b: dict) -> dict:
    """CPU seconds spent between snapshots a and b, by class. ``driver``
    also takes the CPU of JVM threads that exited in between and that no
    sampler read (it stays in the process total but leaves the task
    list)."""
    out = {c: 0 for c in THREAD_CLASSES}
    for tid, (cls, ticks) in b["threads"].items():
        out[cls] += ticks - a["threads"].get(tid, (cls, 0))[1]
    live = sum(out.values())
    out["driver"] += max(0, (b["jvm"] - a["jvm"]) - live)
    out["pyworker"] = b["pyworker"] - a["pyworker"]
    out["python_driver"] = b["self"] - a["self"]
    out["total"] = b["total"] - a["total"]
    return {k: v * TICK_S for k, v in out.items()}


def host_cpu() -> dict:
    """The host's cumulative CPU ticks from /proc/stat (first line)."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return {"steal": vals[7] if len(vals) > 7 else 0, "all": sum(vals[:8])}


def steal_share(a: dict, b: dict) -> dict:
    d_all = max(1, b["all"] - a["all"])
    return {"steal_s": (b["steal"] - a["steal"]) * TICK_S,
            "steal_share": (b["steal"] - a["steal"]) / d_all}
