#!/usr/bin/env python3
"""Collect sets of benchmark runs and judge them.

    # run every workload of BENCHMARK.json once per seed, keeping each result
    python3 perfbench/compare.py collect DIR --seeds 1-10 [--trace 0|1] [--workloads a,b]
    # one set: median, quartiles and spread (IQR / median) per metric
    python3 perfbench/compare.py spread DIR
    # parent set vs change set
    python3 perfbench/compare.py compare PARENT_DIR CHANGE_DIR

A set is a directory of DIR/<workload>/t<trace>-s<seed>.json files, as
written by `run.py --record DIR`. `compare` pairs runs by seed and applies
the rule for a small, shared machine: a metric improved only when the change
wins at least 9 of every 10 pairs (ties count for neither side) and the
medians differ by more than the parent's own interquartile range. It
regressed when the change's median is worse than the parent's by more than
the metric's bound. A metric whose spread exceeds its bound on either side
is unresolved, unless every change run beats every parent run. A workload
with a change run that fails any operation is marked FAILED, and none of
its metrics counts as a gain.
One row per workload and metric.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
SPEC = json.loads((BENCH.parent / "BENCHMARK.json").read_text())


def metric_specs(trace):
    """name -> (better, bound or None) for the end-to-end or per-layer set."""
    if trace:
        return {m["name"]: (m["better"], None) for m in SPEC["per_layer"]}
    return {m["name"]: (m["better"], m["bound"]) for m in SPEC["end_to_end"]}


def parse_seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def load(d, trace):
    """workload -> {seed: result} for one set directory."""
    sets = {}
    for f in sorted(pathlib.Path(d).glob(f"*/t{trace}-s*.json")):
        seed = int(f.stem.split("-s")[1])
        sets.setdefault(f.parent.name, {})[seed] = json.loads(f.read_text())
    return sets


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / abs(med) if med else float("inf")


def values(runs, name):
    return [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]


def cmd_collect(a):
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in SPEC["workloads"]]
    for seed in parse_seeds(a.seeds):
        for w in workloads:
            cmd = [sys.executable, str(BENCH / "run.py"), "--workload", w, "--seed", str(seed),
                   "--seconds", str(SPEC["run_seconds"]), "--trace", str(a.trace),
                   "--record", a.dir]
            res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            last = res.stdout.strip().splitlines()[-1:] or ["(no result)"]
            print(f"{w} seed {seed}: exit {res.returncode} {last[0][:160]}", flush=True)
            if res.returncode != 0:
                return 1
    return 0


def cmd_spread(a):
    specs = metric_specs(a.trace)
    worst = 0
    for w, runs in sorted(load(a.dir, a.trace).items()):
        rs = list(runs.values())
        print(f"{w} ({len(rs)} runs)")
        for name, (_, bound) in specs.items():
            xs = values(rs, name)
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            sp = spread(xs)
            flag = ""
            if bound is not None:
                flag = "  OVER BOUND" if sp > bound else ("  over bound/3" if sp > bound / 3 else "")
                worst = max(worst, 2 if sp > bound else 1 if sp > bound / 3 else 0)
            print(f"  {name:34s} median {med:12.6g}  q1 {q1:12.6g}  q3 {q3:12.6g}  spread {sp:6.3f}{flag}")
    return 1 if worst == 2 else 0


def judge(p, c, better, bound):
    """Verdict for one metric given parent and change values by seed."""
    seeds = sorted(set(p) & set(c))
    pv = [p[s] for s in seeds]
    cv = [c[s] for s in seeds]
    sign = 1 if better == "higher" else -1
    wins = sum(1 for s in seeds if sign * (c[s] - p[s]) > 0)
    losses = sum(1 for s in seeds if sign * (c[s] - p[s]) < 0)
    pq1, pmed, pq3 = quartiles(pv)
    _, cmed, _ = quartiles(cv)
    gap = sign * (cmed - pmed)
    all_better = min(sign * x for x in cv) > max(sign * x for x in pv)
    if bound is not None and (spread(pv) > bound or spread(cv) > bound) and not all_better:
        verdict = "unresolved"
    elif wins >= 0.9 * len(seeds) and gap > (pq3 - pq1):
        verdict = "gain"
    elif bound is not None and -gap > bound * abs(pmed):
        verdict = "regression"
    else:
        verdict = "no change"
    return seeds, pmed, cmed, wins, losses, verdict


def failed_seeds(change):
    """Seeds whose change run failed an operation."""
    return sorted(s for s, r in change.items() if not r["correct"] or r["failed"] > 0)


def cmd_compare(a):
    specs = metric_specs(a.trace)
    parent, change = load(a.parent, a.trace), load(a.change, a.trace)
    bad = False
    print(f"{'workload':10s} {'metric':34s} {'parent':>12s} {'change':>12s} {'wins':>7s}  verdict")
    for w in sorted(set(parent) & set(change)):
        failed = failed_seeds(change[w])
        if failed:
            bad = True
            print(f"{w:10s} FAILED: change runs of seeds {failed} fail operations; no gain counts")
        for name, (better, bound) in specs.items():
            p = {s: r["metrics"][name]["value"] for s, r in parent[w].items() if name in r["metrics"]}
            c = {s: r["metrics"][name]["value"] for s, r in change[w].items() if name in r["metrics"]}
            if not (set(p) & set(c)):
                continue
            seeds, pmed, cmed, wins, losses, verdict = judge(p, c, better, bound)
            if failed and verdict == "gain":
                verdict = "no gain (failed)"
            bad |= verdict == "regression"
            print(f"{w:10s} {name:34s} {pmed:12.6g} {cmed:12.6g} {wins:3d}/{len(seeds):<3d}  {verdict}")
    return 1 if bad else 0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("dir")
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--trace", type=int, choices=[0, 1], default=0)
    c.add_argument("--workloads")
    s = sub.add_parser("spread")
    s.add_argument("dir")
    s.add_argument("--trace", type=int, choices=[0, 1], default=0)
    m = sub.add_parser("compare")
    m.add_argument("parent")
    m.add_argument("change")
    m.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    return {"collect": cmd_collect, "spread": cmd_spread, "compare": cmd_compare}[a.cmd](a)


if __name__ == "__main__":
    sys.exit(main())
