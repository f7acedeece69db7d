"""Host record and process memory sampling for the benchmark.

Everything here reads ``/proc`` or package metadata; nothing starts a
process.
"""

from __future__ import annotations

import os
import platform
import threading
from pathlib import Path


def _meminfo_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return round(int(line.split()[1]) / 1024 / 1024, 1)
    return 0.0


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def git_commit(root: Path) -> str:
    """Commit of ``root`` read from ``.git`` files (no ``git`` process);
    ``"unknown"`` for a checkout that is not a git repository."""
    git = root / ".git"
    try:
        head = (git / "HEAD").read_text().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        if (git / ref).is_file():
            return (git / ref).read_text().strip()
        packed = git / "packed-refs"
        if packed.is_file():
            for line in packed.read_text().splitlines():
                if line.endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


#: keys that must match for two results to be comparable
HOST_KEYS = ("nproc", "ram_gb", "cpu_model", "python", "spark", "pyarrow", "numpy",
             "master", "heap")


def host_record(root: Path, master: str, heap: str, spill_dir: str, seed: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "ram_gb": _meminfo_gb(),
        "cpu_model": _cpu_model(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "master": master,
        "heap": heap,
        "spill_dir": spill_dir,
        "seed": seed,
        "git_commit": git_commit(root),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` plus that of its waited-for children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # fields after the command name start at field 3 (state); utime,
    # stime, cutime, cstime are fields 14-17
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by ``root_pid`` and every process below it.
    CPU time excludes the time a vCPU is stolen by other tenants, which
    wall time includes."""
    kids = _children()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _cpu_ticks(pid)
        todo.extend(kids.get(pid, ()))
    return total / _TICK


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Samples the RSS of one JVM and of every process below it (the
    Python workers) on a background thread. ``peak_total_mb`` is the
    largest per-sample sum, so JVM and worker peaks are only added when
    they coincide."""

    def __init__(self, jvm_pid: int, interval_s: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval_s = interval_s
        self.peak_total_mb = 0.0
        self.peak_jvm_mb = 0.0
        self.peak_python_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> None:
        kids = _children()
        jvm = _rss_mb(self.jvm_pid)
        py, todo = 0.0, list(kids.get(self.jvm_pid, ()))
        while todo:
            pid = todo.pop()
            py += _rss_mb(pid)
            todo.extend(kids.get(pid, ()))
        self.peak_jvm_mb = max(self.peak_jvm_mb, jvm)
        self.peak_python_mb = max(self.peak_python_mb, py)
        self.peak_total_mb = max(self.peak_total_mb, jvm + py)
        self.samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
