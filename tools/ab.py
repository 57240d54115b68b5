#!/usr/bin/env python3
"""A/B comparison of this checkout against a parent revision on one
benchmark workload. Run from the root of the repository:

    python3 tools/ab.py --parent HEAD~1 --workload overlay_dissolve --pairs 10 --first-seed 301
    python3 tools/ab.py --parent HEAD~1 --workload overlay_dissolve --pairs 1 --first-seed 7 --trace 1

The parent is checked out as a git worktree under a temporary directory,
which is removed at the end. Pair k runs `perfbench/run.py` once on each
side with seed `first-seed + k`, the parent first on even k and this
checkout first on odd k, so drift of the host during the pairs falls on
both sides alike. Every run lasts BENCHMARK.json's `run_seconds`.
Nothing but `perfbench/run.py` is called, and neither side's `perfbench/`
or `BENCHMARK.json` is modified.

For every metric of the mode (BENCHMARK.json's end_to_end metrics, or its
per_layer ones with --trace 1) it prints each side's median, quartiles and
quartile spread, and how many pairs this checkout won. For the end-to-end
metrics it prints whether a claimed gain would hold: at least 9 of 10 pairs
won, and a median gap larger than the parent's quartile distance.
"""
import argparse
import json
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = ROOT / "BENCHMARK.json"


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def quartiles(v):
    if len(v) == 1:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def run(checkout, workload, seed, seconds, trace, logdir, side):
    """One `perfbench/run.py` run in `checkout`; returns its result object
    or None. Its standard error goes to a log file in `logdir`."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    errlog = logdir / f"{side}-{workload}-{seed}.log"
    with open(errlog, "w") as err:
        p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=err, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        tail = errlog.read_text().splitlines()[-15:]
        log(f"[ab] {side} seed {seed}: run.py exited with {p.returncode}\n" + "\n".join(tail))
        return None
    return json.loads(lines[-1])


def better_of(m):
    return (lambda a, b: a < b) if m["better"] == "lower" else (lambda a, b: a > b)


def report(metrics, results, claim):
    """Per-metric medians, quartiles, spreads and pairs won."""
    pairs = [(p, c) for p, c in zip(results["parent"], results["change"]) if p and c]
    print(f"{len(pairs)} complete pairs")
    for side in ("parent", "change"):
        rs = [r for r in results[side] if r]
        print(f"{side:7s} runs={len(rs)} incorrect={sum(not r['correct'] for r in rs)} "
              f"failed_ops={sum(r['failed'] for r in rs)} attempted_ops={sum(r['attempted'] for r in rs)}")
    if not pairs:
        return
    for m in metrics:
        name = m["name"]
        p = [a["metrics"][name]["value"] for a, _ in pairs]
        c = [b["metrics"][name]["value"] for _, b in pairs]
        better = better_of(m)
        won = sum(better(b, a) for a, b in zip(p, c))
        pq1, pmed, pq3 = quartiles(p)
        cq1, cmed, cq3 = quartiles(c)
        change = (cmed - pmed) / pmed if pmed else float("nan")
        line = (f"{name:32s} parent {pmed:<10.5g} [{pq1:.5g}, {pq3:.5g}] spread {((pq3 - pq1) / pmed if pmed else 0):6.1%}"
                f" | change {cmed:<10.5g} [{cq1:.5g}, {cq3:.5g}] spread {((cq3 - cq1) / cmed if cmed else 0):6.1%}"
                f" | {change:+7.1%} won {won}/{len(pairs)}")
        if claim:
            holds = won >= 0.9 * len(pairs) and better(cmed, pmed) and abs(cmed - pmed) > pq3 - pq1
            line += f" | gain holds: {'yes' if holds else 'no'}"
        print(line)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads(SPEC.read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        ap.error(f"unknown workload {a.workload}")
    seconds = spec["run_seconds"]
    metrics = spec["per_layer"] if a.trace else spec["end_to_end"]
    rev = subprocess.run(["git", "rev-parse", "--verify", a.parent + "^{commit}"], cwd=ROOT,
                         capture_output=True, text=True, check=True).stdout.strip()

    results = {"parent": [], "change": []}
    with tempfile.TemporaryDirectory(prefix="graft-ab-") as tmp:
        tmp = Path(tmp)
        parent = tmp / "parent"
        subprocess.run(["git", "worktree", "add", "--detach", str(parent), rev], cwd=ROOT,
                       check=True, capture_output=True)
        try:
            sides = {"parent": parent, "change": ROOT}
            for k in range(a.pairs):
                seed = a.first_seed + k
                order = ("parent", "change") if k % 2 == 0 else ("change", "parent")
                got = {s: run(sides[s], a.workload, seed, seconds, a.trace, tmp, s) for s in order}
                for s in ("parent", "change"):
                    results[s].append(got[s])
                shown = "wall_s" if not a.trace else metrics[0]["name"]
                summary = " ".join(
                    f"{s}={got[s]['metrics'][shown]['value']:.4g}" if got[s] else f"{s}=failed"
                    for s in ("parent", "change"))
                log(f"[ab] pair {k + 1}/{a.pairs} seed {seed} ({order[0]} first): {shown} {summary}")
        finally:
            subprocess.run(["git", "worktree", "remove", "--force", str(parent)], cwd=ROOT, capture_output=True)
            subprocess.run(["git", "worktree", "prune"], cwd=ROOT, capture_output=True)

    print(f"workload {a.workload}, parent {rev[:12]}, {a.pairs} pairs from seed {a.first_seed}, "
          f"{'per-layer' if a.trace else 'end-to-end'} metrics")
    report(metrics, results, claim=not a.trace)
    return 0 if all(results["parent"]) and all(results["change"]) else 1


if __name__ == "__main__":
    sys.exit(main())
