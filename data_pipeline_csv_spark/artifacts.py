"""Process-lifetime artifacts: the one owner of build-once state.

Heavy operators serve from artifacts built once per corpus version —
IVF layouts, PQ books and codes, k-means centroids, the ANN audits'
exact top-k truths, BPE merges, Bloom bitsets, z-order/Hilbert/stats
layouts, standing dedup and triangle indexes. Their lifetime contract
lives here and nowhere else:

- ``build_once(name, key, build)`` returns the value stored under
  ``(name, key)``. On a miss it calls ``build(path)`` with a fresh,
  empty directory and stores what ``build`` returns. ``name`` is the
  namespace, so one ``key`` (e.g. a bare ``sf_dir``) under two names
  gives two entries.
- An entry whose directory has vanished is rebuilt. In-memory
  artifacts leave their directory empty, which keeps them cached.
- A build that raises stores nothing, and its directory is removed.
- Every directory lives under one root made lazily with
  ``tempfile.mkdtemp``; the root is removed at interpreter exit.
  ``scratch_dir(prefix)`` hands out a directory under the same root for
  outputs that must outlive their call but are never reused.
- Builds are not serialised: two threads that miss on the same entry at
  once both build it, and the entry keeps the later value.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from typing import Any, Callable

_ROOT: str | None = None
_ENTRIES: dict = {}  # (name, key) -> (directory, value)


def _remove_root() -> None:
    if _ROOT is not None:
        shutil.rmtree(_ROOT, ignore_errors=True)


atexit.register(_remove_root)


def scratch_dir(prefix: str) -> str:
    """A fresh directory under the artifact root, removed at exit."""
    global _ROOT
    if _ROOT is None or not os.path.isdir(_ROOT):
        _ROOT = tempfile.mkdtemp(prefix="sg_artifacts_")
    return tempfile.mkdtemp(prefix=prefix, dir=_ROOT)


def build_once(name: str, key: Any, build: Callable[[str], Any]) -> Any:
    """The artifact stored under ``(name, key)``, built on first use."""
    hit = _ENTRIES.get((name, key))
    if hit is not None and os.path.isdir(hit[0]):
        return hit[1]
    path = scratch_dir(f"{name}_")
    try:
        value = build(path)
    except BaseException:
        shutil.rmtree(path, ignore_errors=True)
        raise
    _ENTRIES[(name, key)] = (path, value)
    return value
