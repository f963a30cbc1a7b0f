"""Small statistics helpers and host diagnostics for benchmark records."""

from __future__ import annotations

import math
import os
import platform
import statistics
import subprocess


def median(xs):
    return statistics.median(xs) if xs else None


def gmean(xs):
    xs = [x for x in xs if x is not None]
    if not xs:
        return None
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail(xs):
    """(percentile, value) of the highest percentile that still has at
    least 10 samples beyond it; None when there are too few samples."""
    n = len(xs)
    if n < 11:
        return None
    pct = math.floor(100 * (n - 10) / n)
    s = sorted(xs)
    return {"pct": pct, "value": s[min(n - 1, math.ceil(pct / 100 * n) - 1)]}


class Samples:
    """Per-kind samples with their start offset in the measured window
    and their cycle, so a record can show per-kind medians for the
    window's first and last quarter and for each cycle (the stationarity
    evidence)."""

    def __init__(self):
        self.by_kind: dict[str, list[tuple[float, float]]] = {}

    def add(self, kind: str, offset_s: float, value: float,
            cycle: int | None = None) -> None:
        self.by_kind.setdefault(kind, []).append((offset_s, value, cycle))

    def values(self, kind: str) -> list[float]:
        return [v for _, v, _ in self.by_kind.get(kind, [])]

    def p50(self, kind: str):
        return median(self.values(kind))

    def summary(self, window_s: float) -> dict:
        out = {}
        for kind, rows in sorted(self.by_kind.items()):
            vals = [v for _, v, _ in rows]
            cycles = sorted({c for _, _, c in rows if c is not None})
            out[kind] = {
                "n": len(vals),
                "p50": median(vals),
                "tail": tail(vals),
                "first_quarter_p50": median(
                    [v for t, v, _ in rows if t < window_s / 4]),
                "last_quarter_p50": median(
                    [v for t, v, _ in rows if t >= 3 * window_s / 4]),
                "per_cycle_p50": {str(c): median(
                    [v for _, v, cc in rows if cc == c]) for c in cycles},
            }
        return out


# --------------------------------------------------------------------------
# host
# --------------------------------------------------------------------------


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 0


def driver_memory() -> str:
    """A fifth of host memory, clamped to [1g, 4g]: the engine's 16g
    default is more than a small host has."""
    gib = mem_total_bytes() / (1 << 30)
    return f"{max(1, min(4, int(gib / 5)))}g"


def cpu_times():
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    return [int(x) for x in parts]


def steal_share(before, after):
    """Share of CPU time stolen by the hypervisor between two snapshots."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return d[7] / total if total and len(d) > 7 else 0.0


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def vm_hwm_mb(pid: int) -> float | None:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        return None
    return None


def _java_version() -> str:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True,
                             text=True, timeout=30).stderr
        return out.splitlines()[0].strip() if out else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _commit(root: str) -> str:
    """The checkout's git commit when there is one, else a hash of the
    engine's sources (a benchmark checkout need not be a git repository)."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    import hashlib

    h = hashlib.sha1()
    pkg = os.path.join(root, "file_stream_import_spark")
    for dirpath, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return "src-" + h.hexdigest()[:12]


def fingerprint(root: str, seed: int) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_gb": round(mem_total_bytes() / (1 << 30), 1),
        "cpu_model": platform.processor() or platform.machine(),
        "spark": pyspark.__version__,
        "java": _java_version(),
        "python": platform.python_version(),
        "commit": _commit(root),
        "seed": seed,
    }


HOST_KEYS = ("nproc", "mem_total_gb", "cpu_model", "spark", "java", "python")
