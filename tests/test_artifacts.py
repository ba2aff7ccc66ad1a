"""The build-once artifact cache (data_pipeline_csv_spark/artifacts.py):
reuse, namespacing, rebuild of a vanished entry, nothing stored on a
failed build, and removal of the root at interpreter exit."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

from data_pipeline_csv_spark.artifacts import build_once, scratch_dir


def _counting(value):
    """A builder that records the directory of every call it gets."""
    calls: list = []

    def build(path):
        calls.append(path)
        return value

    return calls, build


def test_same_name_and_key_builds_once():
    calls, build = _counting("v")
    assert build_once("t_reuse", "k", build) == "v"
    assert build_once("t_reuse", "k", build) == "v"
    assert len(calls) == 1
    # the builder got a fresh, empty directory that stays as the entry's
    assert os.path.isdir(calls[0]) and os.listdir(calls[0]) == []


def test_same_key_under_two_names_gives_two_entries():
    calls_a, build_a = _counting("a")
    calls_b, build_b = _counting("b")
    assert build_once("t_ns_a", "/same/sf_dir", build_a) == "a"
    assert build_once("t_ns_b", "/same/sf_dir", build_b) == "b"
    assert build_once("t_ns_a", "/same/sf_dir", build_b) == "a"
    assert (len(calls_a), len(calls_b)) == (1, 1)
    assert calls_a[0] != calls_b[0]


def test_vanished_entry_directory_is_rebuilt():
    calls, build = _counting("v")
    build_once("t_vanish", "k", build)
    shutil.rmtree(calls[0])
    assert build_once("t_vanish", "k", build) == "v"
    assert len(calls) == 2
    assert os.path.isdir(calls[1])
    build_once("t_vanish", "k", build)
    assert len(calls) == 2


def test_failed_build_stores_nothing():
    failed: list = []

    def boom(path):
        failed.append(path)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        build_once("t_fail", "k", boom)
    assert not os.path.exists(failed[0])
    calls, build = _counting("ok")
    assert build_once("t_fail", "k", build) == "ok"
    assert len(calls) == 1


def test_scratch_dirs_share_the_root_and_are_distinct():
    a, b = scratch_dir("t_scratch_"), scratch_dir("t_scratch_")
    calls, build = _counting(None)
    build_once("t_scratch", "k", build)
    assert a != b
    assert os.path.dirname(a) == os.path.dirname(b) == os.path.dirname(calls[0])


def test_root_is_removed_at_interpreter_exit():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "from data_pipeline_csv_spark.artifacts import build_once\n"
        "print(build_once('t_exit', 'k', lambda p: p))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True, text=True, check=True
    )
    path = out.stdout.strip()
    assert path and not os.path.exists(os.path.dirname(path))
