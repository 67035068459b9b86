#!/usr/bin/env python3
"""Alternating A/B of the repository benchmark between two revisions.

    python3 tools/perf_ab.py --parent REV --change REV --workload W \\
        --pairs N --seed0 S [--seconds 30] [--work DIR] [--raw FILE]

Each revision is exported with `git archive` into its own directory under
--work (a fresh temporary directory by default), so both sides build and
run from committed files only. Pair i runs `python3 perfbench/run.py
--workload W --seed S+i --seconds N --trace 0` once in each copy; the
side that runs first alternates from pair to pair. Each run's last
output line is its result JSON.

Printed: per end-to-end metric of BENCHMARK.json, the median and the
quartiles of each side, the change's move against the parent's
quartile distance, and the pairs in which the change was better; then
the failed-operation counts and whether every run printed "check: all
output checks passed". --raw writes one JSON line per run. Exits 1 if
a run failed, had failed operations or did not pass its checks.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHECKS_PASSED = "check: all output checks passed"


def export(rev, dest):
    """`git archive` of `rev` unpacked into `dest`; returns the commit id."""
    sha = subprocess.run(["git", "rev-parse", "--verify", rev + "^{commit}"],
                         cwd=ROOT, check=True, capture_output=True,
                         text=True).stdout.strip()
    os.makedirs(dest, exist_ok=True)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT,
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        sys.exit(f"perf_ab: git archive {rev} failed")
    return sha


def run_once(copy, workload, seed, seconds):
    """One benchmark run in `copy`: (result dict or None, checks passed)."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=copy, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    lines = p.stdout.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1]) if p.returncode == 0 else None
    except ValueError:
        result = None
    return result, CHECKS_PASSED in lines


def quartiles(xs):
    """(q1, median, q3), linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, statistics.median(xs), q3


def fmt(x):
    return f"{x:.4g}" if abs(x) < 1000 else f"{x:.0f}"


def directions():
    """metric name -> "lower"/"higher" from BENCHMARK.json's end_to_end."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--work", help="directory for the two exported copies")
    ap.add_argument("--raw", help="write one JSON line per run here")
    a = ap.parse_args()

    work = a.work or tempfile.mkdtemp(prefix="perf_ab-")
    sides = {}
    for side, rev in (("parent", a.parent), ("change", a.change)):
        copy = os.path.join(work, side)
        sha = export(rev, copy)
        sides[side] = copy
        print(f"{side}: {rev} = {sha[:12]} in {copy}", flush=True)

    runs = {"parent": [], "change": []}
    raw = open(a.raw, "w") if a.raw else None
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            result, passed = run_once(sides[side], a.workload, seed, a.seconds)
            runs[side].append((result, passed))
            summary = (" ".join(f"{k} {fmt(m['value'])}"
                                for k, m in result["metrics"].items())
                       if result else "no result line")
            print(f"pair {i + 1}/{a.pairs} seed {seed} {side}: {summary}"
                  f"{'' if passed else ' (checks NOT passed)'}", flush=True)
            if raw:
                raw.write(json.dumps({"pair": i, "seed": seed, "side": side,
                                      "checks_passed": passed,
                                      "result": result}) + "\n")
                raw.flush()
    if raw:
        raw.close()

    better = directions()
    ok_pairs = [i for i in range(a.pairs)
                if runs["parent"][i][0] and runs["change"][i][0]]

    def values(side, name):
        ms = [runs[side][i][0]["metrics"].get(name) for i in ok_pairs]
        return None if None in ms else [m["value"] for m in ms]

    print(f"\n{a.workload}: {len(ok_pairs)} complete pairs of {a.pairs}, "
          f"seeds {a.seed0}-{a.seed0 + a.pairs - 1}, {a.seconds} s windows")
    print("| metric | parent median [q1-q3] | change median [q1-q3] "
          "| move / parent IQR | change better |")
    print("|---|---|---|---|---|")
    for name, direction in better.items():
        pv, cv = values("parent", name), values("change", name)
        if not ok_pairs or pv is None or cv is None:
            continue
        (p1, pm, p3), (c1, cm, c3) = quartiles(pv), quartiles(cv)
        won = sum((c < p) if direction == "lower" else (c > p)
                  for p, c in zip(pv, cv))
        iqr = p3 - p1
        ratio = f"{(cm - pm) / iqr:+.2f}" if iqr > 0 else "n/a"
        print(f"| {name} | {fmt(pm)} [{fmt(p1)}-{fmt(p3)}] | "
              f"{fmt(cm)} [{fmt(c1)}-{fmt(c3)}] | {ratio} | "
              f"{won}/{len(ok_pairs)} |")

    bad = False
    for side in ("parent", "change"):
        results = [r for r, _ in runs[side]]
        no_result = sum(r is None for r in results)
        failed = sum(r["failed"] for r in results if r)
        attempted = sum(r["attempted"] for r in results if r)
        passed = sum(p for _, p in runs[side])
        print(f"{side}: {len(results)} runs, {no_result} without a result "
              f"line, failed operations {failed} of {attempted}, output "
              f"checks passed in {passed}/{len(results)}")
        bad |= no_result > 0 or failed > 0 or passed < len(results)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
