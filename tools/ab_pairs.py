#!/usr/bin/env python3
"""Interleaved A/B of the repo benchmark between two checkouts.

Usage: python3 tools/ab_pairs.py PARENT_DIR CHANGE_DIR --workload W
           --seeds 701-710 [--seconds 5] [--out pairs.json]

For each seed it runs `perfbench/run.py --workload W --seed N --seconds S
--trace 0` once in each checkout, one run at a time, alternating which side
runs first (seed index even: parent first). It builds nothing itself:
run.py builds each checkout on its first run. Per metric it prints each
side's q1/median/q3, how many pairs the change won (better in the metric's
direction, from BENCHMARK.json), the median gap, and whether that gap
exceeds the parent's interquartile range. `--out` keeps every raw result
line; `--report FILE` prints the table from such a file without running.
"""

import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "perfbench"))
sys.dont_write_bytecode = True  # leave perfbench/ as it is

import stats  # noqa: E402  (perfbench/stats.py, read only)


def seed_list(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    if r.returncode != 0 or not lines:
        sys.exit(f"ab_pairs: {checkout} seed {seed} failed (exit {r.returncode}):\n{r.stderr[-2000:]}")
    return json.loads(lines[-1])


def directions():
    doc = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["better"] for m in doc["end_to_end"]}


def report(pairs):
    """One row per metric; `pairs` is a list of {seed, parent, change}."""
    better = directions()
    print(f"{'metric':<12} {'parent q1/med/q3':>26} {'change q1/med/q3':>26} "
          f"{'won':>6} {'gap':>9} {'> IQR':>6}")
    for metric, way in better.items():
        a = [p["parent"]["metrics"][metric]["value"] for p in pairs]
        b = [p["change"]["metrics"][metric]["value"] for p in pairs]
        sign = 1 if way == "lower" else -1
        won = sum(sign * (x - y) > 0 for x, y in zip(a, b))
        qa = [stats.percentile(a, q) for q in (25, 50, 75)]
        qb = [stats.percentile(b, q) for q in (25, 50, 75)]
        gap = qb[1] - qa[1]
        beyond = sign * -gap > qa[2] - qa[0]
        fmt = lambda q: "/".join(f"{v:.4g}" for v in q)  # noqa: E731
        print(f"{metric:<12} {fmt(qa):>26} {fmt(qb):>26} {won:>3}/{len(pairs):<2} "
              f"{gap:>+9.4g} {'yes' if beyond else 'no':>6}")
    bad = [p["seed"] for p in pairs if not (p["parent"]["correct"] and p["change"]["correct"])]
    if bad:
        print(f"output check failed on seeds {bad}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workload")
    ap.add_argument("--seeds")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--out")
    ap.add_argument("--report")
    a = ap.parse_args()
    if a.report:
        report(json.loads(Path(a.report).read_text()))
        return
    if not (a.parent and a.change and a.workload and a.seeds):
        ap.error("PARENT_DIR, CHANGE_DIR, --workload and --seeds are required")
    pairs = []
    for i, seed in enumerate(seed_list(a.seeds)):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            pair[side] = run_once(getattr(a, side), a.workload, seed, a.seconds)
        pairs.append(pair)
        print(f"seed {seed} ({order[0]} first): wall_s parent "
              f"{pair['parent']['metrics']['wall_s']['value']:.2f} change "
              f"{pair['change']['metrics']['wall_s']['value']:.2f}", flush=True)
        if a.out:
            Path(a.out).write_text(json.dumps(pairs, indent=1))
    report(pairs)


if __name__ == "__main__":
    main()
