"""Noise context, memory and provenance for the benchmark's report."""

from __future__ import annotations

import glob
import hashlib
import os
import subprocess
import time

# Same probe as bench.py (BASELINE.md round-11 protocol): LCG-scramble and
# sort a constant 2M-element uint64 array ``reps`` times; the checksum is
# asserted so a wrong result can never pass as a timing. 32 reps take
# ~1.0 s on the BASELINE.md reference machine, 4 reps ~0.125 s.
_CHECKSUMS = {32: 2785854242, 4: 1257033333}
_CLK_TCK = os.sysconf("SC_CLK_TCK")


def calibration_probe(reps: int = 32) -> float:
    import numpy as np

    x = np.arange(2_000_000, dtype=np.uint64)
    x = x * np.uint64(6364136223846793005) + np.uint64(1442695040888963407)
    acc = 0
    t0 = time.perf_counter()
    for _ in range(reps):
        y = np.sort(x)
        acc ^= int(y[::97].sum()) & 0xFFFFFFFF
        x = x * np.uint64(2862933555777941757) + np.uint64(3037000493)
    elapsed = time.perf_counter() - t0
    if acc != _CHECKSUMS[reps]:
        raise RuntimeError(f"calibration checksum {acc} != {_CHECKSUMS[reps]}")
    return elapsed


def loadavg1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants: the
    Python driver, the JVM and the Python workers."""
    kids = _children()
    todo, out = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_hwm_mb(root: int | None = None) -> float:
    """Sum of peak RSS (VmHWM) over the process tree."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024


def _jit_or_gc(thread_name: str) -> bool:
    """HotSpot's JIT compiler and garbage-collector threads."""
    return "Compiler" in thread_name or "GC" in thread_name or thread_name.startswith("G1 ")


# last seen CPU ticks of each JIT compiler and GC thread, by (pid, tid): a
# thread that has ended keeps its share excluded
_excluded_ticks: dict[tuple[int, int], int] = {}


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by the process tree's own
    work: each process's total, which keeps the time of its ended threads
    and reaped children, minus the JVM's JIT compiler and GC threads. The
    JIT is still compiling warm-up code in the first rounds, by an amount
    that varies from run to run with the host; GC time is reported per
    layer (``exec.gc_s``). Time the hypervisor steals is in neither."""
    ticks = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                # utime, stime, cutime, cstime
                ticks += sum(int(x) for x in fh.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, ValueError):
            continue
        for stat in glob.glob(f"/proc/{pid}/task/*/stat"):
            try:
                with open(stat) as fh:
                    raw = fh.read()
            except OSError:
                continue  # the thread ended
            if _jit_or_gc(raw[raw.index("(") + 1:raw.rindex(")")]):
                tid = int(stat.split("/")[4])
                _excluded_ticks[pid, tid] = sum(int(x) for x in raw.rsplit(")", 1)[1].split()[11:13])
    return (ticks - sum(_excluded_ticks.values())) / _CLK_TCK


def steal_s() -> float:
    """Host-wide CPU seconds stolen from this machine's vCPUs so far."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK_TCK if len(fields) > 8 else 0.0


def code_digest(root: str) -> str:
    """sha256 over the engine sources, for checkouts that carry no git data."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "dbkit_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown (not a git checkout)"


def provenance(spark, root: str, seed: int) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "pyspark": pyspark.__version__,
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "git_commit": git_commit(root),
        "code_sha256": code_digest(root),
        "seed": seed,
        "flush_policy": "Spark default parquet commit (FileOutputCommitter v1) on local disk",
    }
