"""Fast checks of the benchmark's measurement helpers (no Spark).

Run from the root of a checkout:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pytest

from perfbench import helpers, spans


# -- the tail rule ----------------------------------------------------------

def test_tail_needs_ten_samples_beyond_it():
    assert helpers.tail(list(range(10))) is None
    # 20 samples: p75 is rank 15, leaving 5 beyond it; still too few
    assert helpers.tail(list(range(20))) is None
    # 40 samples: p75 (rank 30) leaves 10 beyond; p90 (rank 36) leaves 4
    label, value, n = helpers.tail(list(range(40)))
    assert (label, value, n) == ("p75", 29.0, 40)


def test_tail_climbs_with_the_sample_count():
    assert helpers.tail(list(range(100)))[:2] == ("p90", 89.0)
    assert helpers.tail(list(range(1000)))[:2] == ("p99", 989.0)
    assert helpers.tail(list(range(20000)))[:2] == ("p99_9", 19979.0)


def test_tail_ignores_sample_order():
    values = [5.0, 1.0, 9.0, 3.0] * 10
    assert helpers.tail(values) == helpers.tail(sorted(values))


def test_nearest_rank():
    assert helpers.nearest_rank([3, 1, 2], 50) == 2.0
    assert helpers.nearest_rank([3, 1, 2], 100) == 3.0
    assert helpers.nearest_rank([7], 99.9) == 7.0


# -- bytes by distinct inode ------------------------------------------------

def _write(path, nbytes):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(b"x" * nbytes)


def test_hardlinks_count_once(tmp_path):
    a = tmp_path / "gen-1" / "part-0.parquet"
    _write(str(a), 100)
    os.makedirs(tmp_path / "gen-2")
    os.link(a, tmp_path / "gen-2" / "part-0.parquet")  # carried file
    _write(str(tmp_path / "gen-2" / "part-1.parquet"), 30)
    files = helpers.scan_files(str(tmp_path))
    assert sorted(size for size, _ in files.values()) == [30, 100]


def test_data_and_sidecar_bytes_are_split(tmp_path):
    _write(str(tmp_path / "gen-1" / "part-0.parquet"), 100)
    _write(str(tmp_path / "gen-1" / "_bloom" / "part-0.parquet.bf"), 8)
    _write(str(tmp_path / "gen-1" / "_spans.json"), 5)
    _write(str(tmp_path / "_GENERATION"), 3)
    _write(str(tmp_path / "gen-1" / ".part-0.parquet.crc"), 50)  # not counted
    assert helpers.split_bytes(helpers.scan_files(str(tmp_path))) == (100, 16)


def test_ledger_counts_new_inodes_once(tmp_path):
    old = tmp_path / "gen-1" / "a.parquet"
    _write(str(old), 10)
    ledger = helpers.InodeLedger(str(tmp_path))
    assert ledger.observe() == (0, 0)
    os.makedirs(tmp_path / "gen-2")
    os.link(old, tmp_path / "gen-2" / "a.parquet")  # carry: nothing new
    _write(str(tmp_path / "gen-2" / "b.parquet"), 20)
    _write(str(tmp_path / "gen-2" / "_spans.json"), 4)
    assert ledger.observe() == (2, 24)
    assert ledger.observe() == (0, 0)
    assert (ledger.new_files, ledger.new_data, ledger.new_side) == (2, 20, 4)


def test_ledger_sees_a_reused_inode_as_new(tmp_path):
    path = tmp_path / "a.parquet"
    _write(str(path), 10)
    ledger = helpers.InodeLedger(str(tmp_path))
    ino = os.stat(path).st_ino
    os.unlink(path)
    time.sleep(0.01)
    _write(str(path), 12)
    if os.stat(path).st_ino != ino:
        pytest.skip("the filesystem did not reuse the inode")
    assert ledger.observe() == (1, 12)


# -- /proc readers ------------------------------------------------------------

def test_parse_stat_survives_odd_command_names():
    fields = ["S", "42"] + ["0"] * 9 + ["100", "20", "7", "3"] + ["0"] * 30
    text = "1234 (a) b (c)) " + " ".join(fields)
    assert helpers.parse_stat(text) == (42, 120, 10)


def test_own_stat_matches_os_times():
    ppid, own, _children = helpers.read_stat(os.getpid())
    assert ppid == os.getppid()
    t = os.times()
    assert abs(own / helpers.CLK_TCK - (t.user + t.system)) < 0.5


def test_tree_cpu_includes_children_and_reaped_grandchildren():
    burn = "import time\nt=time.process_time()\nwhile time.process_time()-t<0.3: pass\n"
    code = f"import subprocess,sys\nsubprocess.run([sys.executable,'-c',{burn!r}])\n{burn}"
    proc = subprocess.Popen([sys.executable, "-c", code])
    try:
        time.sleep(0.1)
        pids = helpers.descendants(os.getpid())
        assert os.getpid() in pids and proc.pid in pids
        seen = 0.0
        while proc.poll() is None:
            seen = max(seen, helpers.tree_cpu_seconds([proc.pid]))
            time.sleep(0.02)
    finally:
        proc.wait(timeout=30)
    # the child burnt 0.3 s itself and its own child another 0.3 s,
    # reaped into the child's cutime before the child exited
    assert seen >= 0.5


def test_steal_ticks_reads_proc_stat(tmp_path):
    (tmp_path / "stat").write_text("cpu  100 5 20 800 3 1 2 9 4 0\ncpu0 1 2 3 4 5 6 7 8 9 0\n")
    assert helpers.steal_ticks(str(tmp_path)) == (9, 940)
    steal, total = helpers.steal_ticks()
    assert 0 <= steal <= total


def test_vm_hwm_is_positive():
    assert helpers.vm_hwm_mb() > 1.0


# -- spans ------------------------------------------------------------------

def test_covered_merges_overlaps():
    assert spans.covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.covered([]) == 0


def test_self_time_subtracts_children():
    recs = [
        {"id": "s0", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "s1", "parent": "s0", "start": 1.0, "end": 4.0},
        {"id": "s2", "parent": "s0", "start": 3.0, "end": 6.0},
        {"id": "s3", "parent": "s1", "start": 1.0, "end": 2.0},
    ]
    st = spans.self_time(recs)
    assert st == {"s0": 5.0, "s1": 2.0, "s2": 3.0, "s3": 1.0}
    assert [s["id"] for s in spans.subtree(recs, "s1")] == ["s1", "s3"]
