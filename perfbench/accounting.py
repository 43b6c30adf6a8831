"""Outside-in storage and memory accounting.

Storage numbers come from walking directories, never from the
package's own bookkeeping, except that the manifest file is read to
tell referenced version dirs from orphans. Memory comes from
``/proc/<pid>/status`` (VmHWM) for the Python driver and the JVM.
"""

from __future__ import annotations

import json
import os
from pathlib import Path


def tree_size(root: Path | str) -> tuple[int, int]:
    """(bytes, files) under ``root``; (0, 0) if it does not exist."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            try:
                total += os.lstat(os.path.join(dirpath, n)).st_size
            except FileNotFoundError:
                continue  # removed by a concurrent GC
            files += 1
    return total, files


def orphan_bytes(table_path: Path | str) -> int:
    """Bytes in version dirs no retained manifest snapshot references,
    plus every ``_staging_*`` dir left at the table root."""
    root = Path(table_path)
    mf = root / "_manifest.json"
    if not mf.exists():
        return 0
    m = json.loads(mf.read_text())
    referenced = set(m.get("buckets", {}).values())
    for snap in m.get("history") or []:
        referenced.update(snap.get("buckets", {}).values())
    total = 0
    for p in root.glob("_staging_*"):
        total += tree_size(p)[0]
    for bdir in (root / "buckets").glob("*"):
        for vdir in bdir.iterdir():
            rel = f"buckets/{bdir.name}/{vdir.name}"
            if rel not in referenced:
                total += tree_size(vdir)[0]
    return total


def files_newer_than(root: Path | str, t_wall: float) -> tuple[int, int]:
    """(bytes, files) of files under ``root`` modified at or after
    ``t_wall`` (seconds since the epoch)."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            try:
                st = os.lstat(os.path.join(dirpath, n))
            except FileNotFoundError:
                continue
            if st.st_mtime >= t_wall:
                total += st.st_size
                files += 1
    return total, files


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set size of a process in KiB (0 if unreadable)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int | None:
    """Pid of the JVM the py4j gateway launched for this session."""
    gw = getattr(spark.sparkContext, "_gateway", None)
    proc = getattr(gw, "proc", None)
    return getattr(proc, "pid", None)


def jvm_gc_seconds(spark) -> float:
    """Total GC time the JVM has spent so far, from its MXBeans."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


class CpuClock:
    """CPU seconds (user + system) burnt by the Python driver and the
    JVM together, read from ``/proc``. Unlike wall time it does not
    grow when the host takes the vCPUs away (steal) — only when the
    program does more work."""

    def __init__(self, jvm: int | None) -> None:
        self._stat = f"/proc/{jvm}/stat" if jvm else None
        self._tick = os.sysconf("SC_CLK_TCK")

    def __call__(self) -> float:
        t = os.times()
        total = t.user + t.system
        if self._stat:
            with open(self._stat) as f:
                # fields after the ")" that closes the command name;
                # utime and stime are fields 14 and 15 of the line
                fields = f.read().rsplit(")", 1)[1].split()
            total += (int(fields[11]) + int(fields[12])) / self._tick
        return total


class StealShare:
    """Share of the host's CPU ticks stolen by the hypervisor between
    ``start()`` and ``share()``, from ``/proc/stat`` (all CPUs)."""

    def __init__(self) -> None:
        self._t0 = self._read()

    @staticmethod
    def _read() -> tuple[int, int]:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
        return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)

    def start(self) -> None:
        self._t0 = self._read()

    def share(self) -> float:
        s1, n1 = self._read()
        s0, n0 = self._t0
        return (s1 - s0) / (n1 - n0) if n1 > n0 else 0.0
