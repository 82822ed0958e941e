#!/usr/bin/env python3
"""Alternating benchmark pairs: a parent commit against the current checkout.

Usage (from the repository root):

    python3 tools/benchpairs.py PARENT_REF --workload elt_month|lake_queries --pairs N

Exports PARENT_REF with ``git archive`` into a temporary directory and
runs N pairs of ``perfbench/run.py --trace 0``, one run on the parent
tree and one on the current checkout per pair, with seeds 1..N and the
benchmark's own run length. Odd seeds run the parent first and even
seeds the change first, so a drift of the machine over the session
loads both sides alike. Each run builds its own tree into that tree's
``.bench_build/``.

For every end-to-end metric of ``BENCHMARK.json`` it prints the parent's
median (quartiles), the change's median (quartiles), the ratio of the
medians, the parent's interquartile range over its median, and in how
many pairs the change was better. A metric whose parent spread exceeds
its ``bound`` is marked UNRESOLVED (the runs spread too widely to call
it unchanged) unless every change run beats every parent run. A metric
is marked GAIN when the change was better in at least nine tenths of
the pairs and its median beats the parent's by more than the parent's
interquartile range. Failed runs and failed operations are counted and
printed.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

sys.dont_write_bytecode = True
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def quartiles(values):
    """(first quartile, median, third quartile), linear interpolation
    between the closest ranks (``statistics.quantiles``' inclusive
    method); a single sample is its own quartiles."""
    if not values:
        raise ValueError("quartiles of no samples")
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def summarize(parent, change, metrics):
    """One row per metric from paired runs.

    ``parent`` and ``change`` are equally long lists of ``{metric: value}``
    (pair i is ``parent[i]``, ``change[i]``); ``metrics`` is the
    ``end_to_end`` list of ``BENCHMARK.json``. Returns dicts with the
    quartiles of both sides, ``ratio`` (change median / parent median),
    ``spread`` (parent IQR / parent median), ``better`` (pairs in which
    the change was better), ``pairs``, ``unresolved`` and ``gain``.
    """
    if len(parent) != len(change):
        raise ValueError("parent and change runs must pair up")
    rows = []
    for m in metrics:
        name = m["name"]
        p = [r[name] for r in parent]
        c = [r[name] for r in change]
        pq, cq = quartiles(p), quartiles(c)
        lower = m.get("better", "lower") == "lower"
        spread = (pq[2] - pq[0]) / pq[1] if pq[1] else float("inf")
        better = sum(1 for a, b in zip(p, c) if (b < a if lower else b > a))
        all_better = max(c) < min(p) if lower else min(c) > max(p)
        gap = pq[1] - cq[1] if lower else cq[1] - pq[1]
        rows.append({
            "name": name, "unit": m.get("unit", ""),
            "parent": pq, "change": cq,
            "ratio": cq[1] / pq[1] if pq[1] else float("inf"),
            "spread": spread, "better": better, "pairs": len(p),
            # a spread wider than the bound cannot show "unchanged",
            # unless every change run beats every parent run
            "unresolved": spread > m["bound"] and not all_better,
            # the gain rule: nine tenths of the pairs, and a median gap
            # wider than the parent's own interquartile range
            "gain": 10 * better >= 9 * len(p) and gap > pq[2] - pq[0],
        })
    return rows


def render(row):
    def side(q):
        return f"{q[1]:.4g} ({q[0]:.4g}-{q[2]:.4g})"
    flag = ("  UNRESOLVED" if row["unresolved"] else "") + ("  GAIN" if row["gain"] else "")
    return (f"{row['name']:<14} {side(row['parent'])} -> {side(row['change'])} "
            f"{row['unit']}, ratio {row['ratio']:.3f}, parent IQR/median "
            f"{row['spread']:.3f}, change better {row['better']}/{row['pairs']}{flag}")


def export(ref, dest):
    """Extract the tree of ``ref`` into ``dest`` with ``git archive``."""
    with tempfile.TemporaryFile() as tar:
        subprocess.run(["git", "archive", "--format=tar", ref], cwd=ROOT, stdout=tar,
                       check=True)
        tar.seek(0)
        with tarfile.open(fileobj=tar) as t:
            t.extractall(dest)


def run_once(tree, workload, seed):
    """Metrics of one ``perfbench/run.py`` run in ``tree``, or None when
    it failed; also returns the failed-operation count."""
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--trace", "0"],
                       cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        print(f"[benchpairs] run failed in {tree} (seed {seed}):\n{r.stderr[-2000:]}",
              file=sys.stderr)
        return None, 0
    result = json.loads(lines[-1])
    return {k: v["value"] for k, v in result["metrics"].items()}, result["failed"]


def main():
    ap = argparse.ArgumentParser(description="Alternating benchmark pairs, parent vs change.")
    ap.add_argument("parent", help="git ref of the parent commit")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    tmp = tempfile.mkdtemp(prefix="benchpairs-")
    try:
        export(args.parent, tmp)
        trees = {"parent": tmp, "change": ROOT}
        runs = {"parent": [], "change": []}
        failed_ops = {"parent": 0, "change": 0}
        failed_runs = 0
        for seed in range(1, args.pairs + 1):
            order = ("parent", "change") if seed % 2 else ("change", "parent")
            got = {}
            for side in order:
                got[side], f = run_once(trees[side], args.workload, seed)
                failed_ops[side] += f
            if got["parent"] is None or got["change"] is None:
                failed_runs += 1
                continue
            for side in order:
                runs[side].append(got[side])
            print(f"[benchpairs] seed {seed}: " + ", ".join(
                f"{m['name']} {got['parent'][m['name']]:.4g} -> {got['change'][m['name']]:.4g}"
                for m in bench["end_to_end"]), file=sys.stderr)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if not runs["parent"]:
        print("[benchpairs] no pair completed", file=sys.stderr)
        return 1
    print(f"{args.workload}: {len(runs['parent'])} pairs against {args.parent} "
          f"(--trace 0, seeds 1-{args.pairs}, odd seeds parent first); failed runs "
          f"{failed_runs}, failed operations parent {failed_ops['parent']} / change "
          f"{failed_ops['change']}")
    for row in summarize(runs["parent"], runs["change"], bench["end_to_end"]):
        print(render(row))
    return 0


if __name__ == "__main__":
    sys.exit(main())
