"""Measurement helpers that need no Spark: the tail-percentile rule,
byte counts by distinct inode, and CPU / memory readers over ``/proc``.

Everything here is a pure function of its arguments or of ``/proc`` and
the filesystem, so ``perfbench/tests`` can check it in milliseconds.
"""

from __future__ import annotations

import os
import statistics

# Percentiles tried for the tail, highest first.  The reported tail is the
# first one with at least ``TAIL_MIN_BEYOND`` samples above it.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def _rank(pct: float, n: int) -> int:
    """1-based nearest rank of percentile ``pct`` among ``n`` samples, in
    integer arithmetic (``99.9 / 100 * 20000`` is not 19980 in floats)."""
    return max(1, -(-round(pct * 1000) * n // 100_000))


def nearest_rank(values, pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    ordered = sorted(values)
    return float(ordered[_rank(pct, len(ordered)) - 1])


def tail(values, min_beyond: int = TAIL_MIN_BEYOND):
    """The highest percentile in :data:`TAIL_PERCENTILES` that leaves at
    least ``min_beyond`` samples strictly above its rank.

    Returns ``(label, value, n)`` such as ``("p90", 71.2, 120)``, or
    ``None`` when the window holds too few samples for any of them: a
    tail from fewer samples would be a guess, so none is reported.
    """
    n = len(values)
    for pct in TAIL_PERCENTILES:
        if n - _rank(pct, n) >= min_beyond:
            label = f"p{pct:g}".replace(".", "_")
            return label, nearest_rank(values, pct), n
    return None


# -- bytes by distinct inode ---------------------------------------------

def file_identity(st: os.stat_result) -> tuple:
    """One identity per physical file.  A hardlink shares the inode and
    the mtime, so carried files count once; a reused inode number gets a
    new mtime, so a later file is not mistaken for a deleted one."""
    return (st.st_dev, st.st_ino, st.st_mtime_ns)


def is_sidecar(path: str) -> bool:
    """Everything the store writes besides parquet data files: per-file
    Bloom filters, span and generation manifests, snapshot specs."""
    return not path.endswith(".parquet")


def scan_files(root: str) -> dict[tuple, tuple[int, str]]:
    """Every regular file under ``root``, one entry per distinct inode:
    identity -> (size in bytes, one path).  Spark's ``.crc`` checksum
    files are skipped; they are not part of the store's layout."""
    out: dict[tuple, tuple[int, str]] = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if name.endswith(".crc"):
                continue
            path = os.path.join(dirpath, name)
            try:
                st = os.lstat(path)
            except FileNotFoundError:  # swept while we walked
                continue
            if os.path.islink(path):
                continue
            out.setdefault(file_identity(st), (st.st_size, path))
    return out


def split_bytes(files: dict[tuple, tuple[int, str]]) -> tuple[int, int]:
    """(data bytes, sidecar bytes) of a :func:`scan_files` result."""
    data = side = 0
    for size, path in files.values():
        if is_sidecar(path):
            side += size
        else:
            data += size
    return data, side


class InodeLedger:
    """Accumulates the bytes of every file that appears under some roots
    after the ledger starts, each distinct inode once.  Call
    :meth:`observe` after every step that may create files; a file that
    is created and swept between two observations is missed, so observe
    at least once per commit."""

    def __init__(self, *roots: str):
        self.roots = roots
        self.seen: set = set()
        for root in roots:
            self.seen.update(scan_files(root))
        self.new_files = 0
        self.new_data = 0
        self.new_side = 0

    def observe(self) -> tuple[int, int]:
        """Record files new since the last call; returns (files, bytes)."""
        files = bytes_ = 0
        for root in self.roots:
            for ident, (size, path) in scan_files(root).items():
                if ident in self.seen:
                    continue
                self.seen.add(ident)
                files += 1
                bytes_ += size
                if is_sidecar(path):
                    self.new_side += size
                else:
                    self.new_data += size
        self.new_files += files
        return files, bytes_

    @property
    def new_bytes(self) -> int:
        return self.new_data + self.new_side


# -- /proc readers ---------------------------------------------------------

CLK_TCK = os.sysconf("SC_CLK_TCK")


def parse_stat(text: str) -> tuple[int, int, int]:
    """(ppid, own cpu ticks, reaped-children cpu ticks) from the text of
    ``/proc/<pid>/stat``.  The command name may hold spaces and
    parentheses, so fields are counted from the last ``)``."""
    fields = text[text.rindex(")") + 2:].split()
    # fields[0] is field 3 (state): ppid=4, utime=14, stime=15,
    # cutime=16, cstime=17 in proc(5) numbering
    ppid = int(fields[1])
    own = int(fields[11]) + int(fields[12])
    children = int(fields[13]) + int(fields[14])
    return ppid, own, children


def read_stat(pid: int, proc: str = "/proc"):
    try:
        with open(f"{proc}/{pid}/stat") as fh:
            return parse_stat(fh.read())
    except (FileNotFoundError, ProcessLookupError):
        return None


def descendants(root_pid: int, proc: str = "/proc") -> list[int]:
    """``root_pid`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir(proc):
        if not entry.isdigit():
            continue
        st = read_stat(int(entry), proc)
        if st is not None:
            children.setdefault(st[0], []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(pids, proc: str = "/proc") -> float:
    """CPU seconds (user + sys) of ``pids`` plus the children each has
    already reaped."""
    ticks = 0
    for pid in pids:
        st = read_stat(pid, proc)
        if st is not None:
            ticks += st[1] + st[2]
    return ticks / CLK_TCK


def steal_ticks(proc: str = "/proc") -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from
    ``/proc/stat``: time the hypervisor ran something else while this
    machine's CPUs had work."""
    with open(f"{proc}/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already inside user and nice
    return fields[7], sum(fields[:8])


def vm_hwm_mb(pid: int | str = "self", proc: str = "/proc") -> float:
    """Peak resident set (VmHWM) of one process, in MiB."""
    with open(f"{proc}/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM in {proc}/{pid}/status")
