#!/usr/bin/env python3
"""Alternating A/B of the repository benchmark between two revisions.

    python3 tools/perf_ab.py --parent REV --change REV --workload W \\
        --pairs N --seed0 S [--seconds 30] [--work DIR] [--raw FILE] \\
        [--traced]

Each revision is exported with `git archive` into its own directory under
--work (a fresh temporary directory by default), so both sides build and
run from committed files only. Pair i runs `python3 perfbench/run.py
--workload W --seed S+i --seconds N --trace 0` once in each copy; the
side that runs first alternates from pair to pair. Each run's last
output line is its result JSON.

Printed: per end-to-end metric of BENCHMARK.json, the median and the
quartiles of each side, the change's move against the parent's
quartile distance, and the pairs in which the change was better; for
a workload that prints per-route latencies (service_mixed's "note: per
route p50 ms:" line), each side's median of the per-run p50 of every
route, so a per-document change shows which routes moved; then the
failed-operation counts and whether every run printed "check: all
output checks passed". --raw writes one JSON line per run. Exits 1 if
a run failed, had failed operations or did not pass its checks.

--traced adds, after the pairs, one `--trace 1` run per side on seed 1
(the seed whose dedup keepers and operator counts are recorded) and
prints every per-layer metric of the two runs side by side: the Spark
counts and gauges (`spark.jobs`, `spark.driver_gap_ms`, ...), the
workload's operator counts and its span self times per pass
(`operators.dedup.candidates_ms`, ...). The traced runs' checks count
like the pairs'.
"""
import re
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHECKS_PASSED = "check: all output checks passed"
ROUTE_P50 = "note: per route p50 ms: "
TRACE_TABLE = "trace: per-layer table"
LAYER_ROW = re.compile(r"^(\S+)\s+(-?[0-9][0-9.E+-]*)\s+\S+$")
TRACED_SEED = 1


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


def route_p50(lines):
    """{route: p50 ms} from a run's per-route note line ({} without one;
    a route with no sample prints "-" and is left out)."""
    for line in lines:
        if line.startswith(ROUTE_P50):
            return {k: float(v) for k, v in
                    (kv.split("=", 1) for kv in line[len(ROUTE_P50):].split())
                    if v != "-"}
    return {}


def traced_layers(lines, result):
    """{metric: value} of a traced run: every row of the metric part of
    its per-layer table, then any result-line metric the table lacks."""
    layers = {}
    in_table = in_metrics = False
    for line in lines:
        if line.startswith(TRACE_TABLE):
            in_table = True
        elif in_table and line.startswith("metric "):
            in_metrics = True
        elif in_metrics:
            m = LAYER_ROW.match(line)
            if not m:
                break
            layers[m.group(1)] = float(m.group(2))
    for name, m in (result or {}).get("metrics", {}).items():
        layers.setdefault(name, m["value"])
    return layers


def run_once(copy, workload, seed, seconds, trace=0):
    """One benchmark run in `copy`: (result dict or None, checks passed,
    per-route p50 ms, output lines)."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)],
        cwd=copy, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    lines = p.stdout.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1]) if p.returncode == 0 else None
    except ValueError:
        result = None
    return result, CHECKS_PASSED in lines, route_p50(lines), lines


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
    ap.add_argument("--traced", action="store_true",
                    help="after the pairs, one traced run per side on "
                         f"seed {TRACED_SEED}, per-layer metrics side by side")
    a = ap.parse_args()

    work = a.work or tempfile.mkdtemp(prefix="perf_ab-")
    sides = {}
    for side, rev in (("parent", a.parent), ("change", a.change)):
        copy = os.path.join(work, side)
        sha = export(rev, copy)
        sides[side] = copy
        print(f"{side}: {rev} = {sha[:12]} in {copy}", flush=True)

    runs = {"parent": [], "change": []}
    routes = {"parent": [], "change": []}
    raw = open(a.raw, "w") if a.raw else None
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            result, passed, p50, _ = run_once(sides[side], a.workload,
                                              seed, a.seconds)
            runs[side].append((result, passed))
            routes[side].append(p50)
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
    traced = {}
    if a.traced:
        for side in ("parent", "change"):
            result, passed, _, lines = run_once(
                sides[side], a.workload, TRACED_SEED, a.seconds, trace=1)
            runs[side].append((result, passed))
            traced[side] = traced_layers(lines, result)
            print(f"traced seed {TRACED_SEED} {side}: "
                  f"{len(traced[side])} per-layer metrics"
                  f"{'' if passed else ' (checks NOT passed)'}", flush=True)
            if raw:
                raw.write(json.dumps({"traced": True, "seed": TRACED_SEED,
                                      "side": side, "checks_passed": passed,
                                      "result": result,
                                      "layers": traced[side]}) + "\n")
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

    names = sorted({r for side in routes.values() for p50 in side for r in p50})
    if names:
        print("\nper route p50 ms, median over runs: " + " | ".join(names))
        for side in ("parent", "change"):
            meds = []
            for r in names:
                xs = [p50[r] for p50 in routes[side] if r in p50]
                meds.append(fmt(statistics.median(xs)) if xs else "-")
            print(f"{side}: " + " | ".join(meds))

    if traced:
        print(f"\ntraced seed {TRACED_SEED}, per pass (one run per side)")
        print("| metric | parent | change |")
        print("|---|---|---|")
        names = list(traced["parent"]) + [n for n in traced["change"]
                                          if n not in traced["parent"]]
        for name in names:
            cells = [fmt(traced[side][name]) if name in traced[side] else "-"
                     for side in ("parent", "change")]
            print(f"| {name} | {cells[0]} | {cells[1]} |")

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
