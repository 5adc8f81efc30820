#!/usr/bin/env python3
"""Alternating parent/change pairs of one perfbench workload, with a verdict.

    python3 scripts/perf_pairs.py <parent-ref> --workload scatter --seed 1 --pairs 10
    python3 scripts/perf_pairs.py HEAD~1 --workload scatter --seed 11 --pairs 2 --trace 1

Exports two trees side by side under the engine's scratch root (the
`graft-scratch` dir of $SPARK_GRAFT_SCRATCH, else of /dev/shm): the
committed tree of <parent-ref>, and the change, a snapshot of this
checkout's tracked files as they stand (`git stash create`, or HEAD when
nothing is modified). Both are written with `git archive`, so both sides
build, spill and shuffle on the same filesystem. It then runs
`perfbench/run.py` in the two copies alternately: pair i runs the parent
first when i is even and the change first when it is odd. Every run's
metrics are printed as they finish; then, per metric, each side's median
and quartiles and the pairs the change won (ties count for neither). For
the claimed metric, solve_s, it prints the verdict of the pair rule: a
gain only when the change wins at least 9 in 10 pairs and the medians
differ by more than the parent's interquartile range. Whether lower is
better comes from BENCHMARK.json. Nothing under perfbench/ is changed,
and both exports are removed at the end.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(os.environ.get("SPARK_GRAFT_SCRATCH", "/dev/shm"), "graft-scratch")
CLAIMED = "solve_s"


def git(*args):
    return subprocess.run(["git", "-C", ROOT, *args],
                          check=True, capture_output=True, text=True).stdout.strip()


def export(ref, side):
    """The committed tree of `ref` in a fresh directory under SCRATCH."""
    sha = git("rev-parse", "--verify", ref + "^{commit}")
    dest = os.path.join(SCRATCH, f"perf-pairs-{side}-{sha[:12]}")
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", sha], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit(f"git archive {ref} failed")
    return sha, dest


def run(checkout, args):
    """One perfbench run in `checkout`: its metrics and failed-op count."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
           "--workload", args.workload, "--seed", str(args.seed), "--trace", str(args.trace)]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    last = p.stdout.strip().splitlines()[-1:] if p.stdout.strip() else []
    try:
        res = json.loads(last[0])
    except (IndexError, ValueError):
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
        raise SystemExit(f"run in {checkout} printed no result (exit {p.returncode})")
    return {k: m["value"] for k, m in res["metrics"].items()}, res["failed"], res["attempted"]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def better_lower():
    """metric name -> True when lower is better, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m["better"] == "lower" for m in b["end_to_end"] + b["per_layer"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", help="git ref of the parent commit")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    psha, parent = export(args.parent, "parent")
    csha, change = export(git("stash", "create") or "HEAD", "change")
    print(f"parent {args.parent} = {psha} in {parent}; change {csha} in {change}", flush=True)
    sides = {"parent": parent, "change": change}
    runs = {"parent": [], "change": []}
    failed = {"parent": [0, 0], "change": [0, 0]}
    try:
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                m, f, a = run(sides[side], args)
                runs[side].append(m)
                failed[side][0] += f
                failed[side][1] += a
                shown = " ".join(f"{k}={v:.6g}" for k, v in sorted(m.items()))
                print(f"pair {i} {side}: failed {f}/{a} {shown}", flush=True)
    finally:
        for d in sides.values():
            shutil.rmtree(d, ignore_errors=True)

    lower = better_lower()
    print(f"\n{args.workload} seed {args.seed}, {args.pairs} pairs, trace {args.trace}")
    for side in sides:
        print(f"{side}: failed ops {failed[side][0]} of {failed[side][1]}")
    print(f"{'metric':<28} {'parent q1/med/q3':>30} {'change q1/med/q3':>30} {'won':>6}")
    verdict = None
    for name in sorted(set(runs["parent"][0]) & set(runs["change"][0])):
        p = [r[name] for r in runs["parent"]]
        c = [r[name] for r in runs["change"]]
        lo = lower.get(name, True)
        won = sum(1 for a, b in zip(p, c) if (b < a if lo else b > a))
        pq, cq = quartiles(p), quartiles(c)
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
        print(f"{name:<28} {fmt(pq):>30} {fmt(cq):>30} {won:>3}/{len(p)}")
        if name == CLAIMED:
            gap = (pq[1] - cq[1]) if lo else (cq[1] - pq[1])
            iqr = pq[2] - pq[0]
            gain = won * 10 >= 9 * len(p) and gap > iqr
            verdict = (f"{name}: change won {won}/{len(p)}, median gap {gap:.4g} "
                       f"vs parent IQR {iqr:.4g} -> {'GAIN' if gain else 'NO CLAIM'}")
    print(verdict or f"{CLAIMED}: not reported by this workload")


if __name__ == "__main__":
    main()
