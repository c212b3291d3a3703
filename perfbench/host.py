"""Machine sizing, the protocol guard and the host-health probes.

The session is sized from the machine it runs on: every core, and a
driver heap well below physical memory with no heap pre-touch (a 16 GB
heap on a 15.7 GB host was killed by the kernel). A request for more
cores or heap than the machine has is refused before Spark starts.
"""

from __future__ import annotations

import os
import re
import time

HEAP_CAP_MB = 4096  # ample for the benchmark corpora; leaves RAM to the host


class ProtocolError(RuntimeError):
    """The requested session does not fit the machine."""


def machine_cores() -> int:
    return len(os.sched_getaffinity(0))


def machine_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise ProtocolError("cannot read MemTotal from /proc/meminfo")


def _heap_mb(spec: str) -> int:
    m = re.fullmatch(r"(\d+)([mMgG])", spec.strip())
    if not m:
        raise ProtocolError(f"SPARK_GRAFT_DRIVER_MEM={spec!r} is not <n>m or <n>g")
    n = int(m.group(1))
    return n * 1024 if m.group(2) in "gG" else n


def size_session(env: dict) -> dict:
    """Fill SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM in ``env`` from the
    machine unless already set, drop heap pre-touch, and refuse a request
    the machine cannot hold. Returns the chosen sizes."""
    cores, mem_mb = machine_cores(), machine_mem_mb()
    cpus = env.setdefault("SPARK_GRAFT_CPUS", str(cores))
    if not cpus.isdigit() or not 1 <= int(cpus) <= cores:
        raise ProtocolError(
            f"SPARK_GRAFT_CPUS={cpus!r} but this machine has {cores} cores"
        )
    heap = env.setdefault(
        "SPARK_GRAFT_DRIVER_MEM", f"{min(HEAP_CAP_MB, mem_mb // 4)}m"
    )
    heap_mb = _heap_mb(heap)
    # the JVM needs headroom above -Xmx (metaspace, threads, direct
    # buffers) and the Python workers live beside it
    if heap_mb > mem_mb // 2:
        raise ProtocolError(
            f"SPARK_GRAFT_DRIVER_MEM={heap} exceeds half of the machine's "
            f"{mem_mb} MB"
        )
    env.pop("SPARK_GRAFT_PRETOUCH", None)
    return {"cores": int(cpus), "heap_mb": heap_mb, "mem_mb": mem_mb}


def first_touch_mb_s(size_mb: int = 128, budget_s: float = 1.0) -> float:
    """Rate at which the kernel backs fresh anonymous pages (bench.py's
    probe): one store per page into an untouched buffer, chunked under a
    time budget so a slow host keeps the probe short."""
    import numpy as np

    a = np.empty(size_mb << 20, dtype=np.uint8)
    t0 = time.monotonic()
    touched = 0
    for off in range(0, size_mb, 16):
        a[off << 20 : (off + 16) << 20 : 4096] = 1
        touched += 16
        if time.monotonic() - t0 > budget_s:
            break
    dt = max(time.monotonic() - t0, 1e-6)
    del a
    return touched / dt


def cpu_calib_s(n: int = 2_000_000) -> float:
    """Wall time of a fixed single-core Python loop: a slow draw caused by
    a contended host shows here, not only in the workload."""
    t0 = time.monotonic()
    acc = 0
    for i in range(n):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return time.monotonic() - t0


def load_avg_1m() -> float:
    return os.getloadavg()[0]


def jvm_peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ProtocolError(f"no VmHWM for pid {pid}")
