#!/usr/bin/env python3
"""Interleaved A/B of the benchmark: a parent revision against the
working tree.

    python3 tools/ab_pairs.py <parent-rev> --workload etl_csv --seeds 3301-3310

Exports the parent revision and the working tree (every tracked or
untracked file that git does not ignore, written through a temporary
index, so the real index is untouched) with ``git archive`` into two
temporary directories. For each seed it runs ``perfbench/run.py
--trace 0`` in both, for BENCHMARK.json's ``run_seconds``; the side that
runs first alternates from pair to pair (the parent first on the first
pair). Each copy runs its own ``perfbench/``, which this script never
edits.

Prints each run's correctness, failures and ``host.canary_s``, then for
every end-to-end metric of BENCHMARK.json: the per-pair values, each
side's median, the parent's IQR (distance between its quartiles) and the
number of pairs the change won (ties count for neither side). Both copies
are deleted at the end, also when a run fails. Set ``TMPDIR`` to choose
where the copies go.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    seeds = list(range(int(lo), int(hi or lo) + 1))
    if not seeds:
        raise argparse.ArgumentTypeError(f"empty seed range: {text}")
    return seeds


def worktree_tree(workdir: str) -> str:
    """A git tree object of the working tree, built in a temporary index."""
    env = dict(os.environ, GIT_INDEX_FILE=os.path.join(workdir, "index"))
    subprocess.run(["git", "add", "-A"], cwd=ROOT, env=env, check=True)
    out = subprocess.run(
        ["git", "write-tree"], cwd=ROOT, env=env, check=True, capture_output=True, text=True
    )
    return out.stdout.strip()


def export(tree: str, dest: str) -> None:
    """Unpack ``git archive <tree>`` into the new directory ``dest``."""
    os.mkdir(dest)
    archive = subprocess.Popen(["git", "archive", tree], cwd=ROOT, stdout=subprocess.PIPE)
    try:
        subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    finally:
        archive.stdout.close()
    if archive.wait():
        raise RuntimeError(f"git archive {tree} failed")


def run(copy: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced benchmark run in ``copy``: its last-line JSON, plus
    the canary from the run's result file."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=copy, capture_output=True, text=True,
    )
    if proc.returncode:
        raise RuntimeError(f"run in {copy} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    newest = max(glob.glob(os.path.join(copy, ".perfbench_results", "*.json")),
                 key=os.path.getmtime)
    with open(newest) as f:
        canary = json.load(f).get("per_layer", {}).get("host.canary_s", {})
    out["canary_s"] = canary.get("value")
    return out


def report(pairs: list[tuple[int, dict, dict]], metrics: list[dict]) -> None:
    def state(r: dict) -> str:
        return (f"correct={r['correct']} failed={r['failed']}/{r['attempted']}"
                f" canary_s={r['canary_s']}")

    for i, (seed, a, b) in enumerate(pairs):
        first = "parent" if i % 2 == 0 else "change"
        print(f"seed {seed} ({first} first): parent {state(a)}; change {state(b)}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        rows = [(s, a["metrics"].get(name, {}).get("value"), b["metrics"].get(name, {}).get("value"))
                for s, a, b in pairs]
        rows = [r for r in rows if r[1] is not None and r[2] is not None]
        if not rows:
            print(f"\n{name}: not reported")
            continue
        print(f"\n{name} ({m['unit']}, {m['better']} is better)")
        for seed, pa, ch in rows:
            print(f"  seed {seed}: parent {pa:.6g}, change {ch:.6g}")
        parent = [r[1] for r in rows]
        change = [r[2] for r in rows]
        wins = sum((ch < pa) if lower else (ch > pa) for _, pa, ch in rows)
        med_p, med_c = statistics.median(parent), statistics.median(change)
        q = statistics.quantiles(parent, n=4, method="inclusive") if len(parent) > 1 else [0, 0, 0]
        delta = f"{100 * (med_c - med_p) / med_p:+.1f}%" if med_p else "n/a"
        print(f"  median parent {med_p:.6g} -> change {med_c:.6g} ({delta}),"
              f" parent IQR {q[2] - q[0]:.6g}, change won {wins}/{len(rows)}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("parent", help="git revision to compare the working tree against")
    p.add_argument("--workload", required=True, choices=("etl_csv", "corpus_batch"))
    p.add_argument("--seeds", required=True, type=parse_seeds, help="A-B, inclusive, or A")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    workdir = tempfile.mkdtemp(prefix="ab_pairs_")
    try:
        parent, change = os.path.join(workdir, "parent"), os.path.join(workdir, "change")
        export(args.parent, parent)
        export(worktree_tree(workdir), change)
        pairs = []
        for i, seed in enumerate(args.seeds):
            order = [("parent", parent), ("change", change)]
            if i % 2:
                order.reverse()
            got = {side: run(copy, args.workload, seed, bench["run_seconds"])
                   for side, copy in order}
            pairs.append((seed, got["parent"], got["change"]))
            print(f"pair {i + 1}/{len(args.seeds)} seed {seed} done", file=sys.stderr, flush=True)
        print(f"workload {args.workload}, parent {args.parent}, {len(pairs)} pairs")
        report(pairs, bench["end_to_end"])
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
