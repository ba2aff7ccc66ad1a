"""bench.py's detail file: named for the next round and the CPU count,
created exclusively, never overwriting an earlier one."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _open_detail_file  # noqa: E402


def test_detail_file_names_round_and_cpus_and_never_overwrites(tmp_path):
    for name in ("BENCH_r14.json", "BENCH_r14_c8.json"):
        (tmp_path / name).write_text("{}")
    names = []
    for cpus in (8, 8, 32, 8):
        name, f = _open_detail_file(str(tmp_path), cpus)
        with f:
            f.write(name)
        names.append(name)
    assert names == [
        "BENCH_DETAIL_r15_c8.json",
        "BENCH_DETAIL_r15_c8_2.json",
        "BENCH_DETAIL_r15_c32.json",
        "BENCH_DETAIL_r15_c8_3.json",
    ]
    # every file still holds what its own run wrote
    for name in names:
        assert (tmp_path / name).read_text() == name


def test_detail_file_without_rounds(tmp_path):
    name, f = _open_detail_file(str(tmp_path), 4)
    f.close()
    assert name == "BENCH_DETAIL_c4.json"
