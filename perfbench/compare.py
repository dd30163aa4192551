#!/usr/bin/env python3
"""Paired parent-vs-change comparison with this benchmark.

    python3 perfbench/compare.py --parent HEAD~1 --change HEAD [--pairs 10] [--work DIR]

Exports both revisions with ``git archive`` into fresh directories under
``--work`` (default: a new directory in the system temp dir), copies the
benchmark of the *current* checkout into both so that each side runs
identical benchmark code, then runs ``--pairs`` pairs per workload in
alternating order (parent first in even pairs, change first in odd
ones), pair i using seed 1000 + i on both sides, for every workload of
BENCHMARK.json at its ``run_seconds``. Each side builds once.

It prints one row per workload x end-to-end metric: each side's median
and quartiles, the change's wins out of the pairs, and a verdict by
choosing-metrics §8 — "better"/"worse" only when one side wins at least
9 of 10 pairs and the medians differ by more than the parent's
interquartile distance, else "unresolved" — plus the bound check:
"EXCEEDED" when the change's median is worse than the parent's by more
than BENCHMARK.json's bound, "unresolved" when the parent's own
interquartile spread is wider than that bound (unless every change run
reads better than every parent run), else "ok".
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def export(rev, dest):
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", "--format=tar", rev],
                             check=True, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    shutil.rmtree(os.path.join(dest, "perfbench"), ignore_errors=True)
    shutil.copytree(HERE, os.path.join(dest, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dest)


def run_once(tree, workload, seed, seconds):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    if r.returncode != 0 or not lines:
        raise RuntimeError(f"{tree}: {workload} seed {seed} failed:\n{r.stdout[-2000:]}")
    return json.loads(lines[-1])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--work", default=None)
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    work = a.work or tempfile.mkdtemp(prefix="perfbench-compare-")
    trees = {"parent": os.path.join(work, "parent"), "change": os.path.join(work, "change")}
    try:
        for side, rev in (("parent", a.parent), ("change", a.change)):
            export(rev, trees[side])
        values = {}   # (workload, side) -> [metrics dict per pair]
        for w in workloads:
            for i in range(a.pairs):
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for side in order:
                    line = run_once(trees[side], w, 1000 + i, seconds)
                    if not line["correct"]:
                        print(f"warning: {side} {w} pair {i}: incorrect output",
                              file=sys.stderr)
                    values.setdefault((w, side), []).append(line["metrics"])
                print(f"[compare] {w}: pair {i + 1}/{a.pairs} done", file=sys.stderr)
        print(f"{'workload':18s} {'metric':16s} {'parent med [q1,q3]':>30s} "
              f"{'change med [q1,q3]':>30s} {'wins':>6s} verdict     bound")
        for w in workloads:
            for m in bench["end_to_end"]:
                p = [x[m["name"]]["value"] for x in values[(w, "parent")]]
                c = [x[m["name"]]["value"] for x in values[(w, "change")]]
                v = stats.pair_verdict(p, c, better=m["better"])
                sp, sc = stats.summary(p), stats.summary(c)
                bound = stats.bound_check(p, c, m["better"], m["bound"])
                print(f"{w:18s} {m['name']:16s} "
                      f"{sp['median']:>12.4g} [{sp['q1']:.4g},{sp['q3']:.4g}]"
                      f"{sc['median']:>12.4g} [{sc['q1']:.4g},{sc['q3']:.4g}] "
                      f"{v['wins']:>3d}/{v['pairs']:<2d} {v['verdict']:11s} {bound}")
    finally:
        if a.work is None:
            shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
