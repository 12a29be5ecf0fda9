#!/usr/bin/env python3
"""Compares benchmark runs of a parent and a change.

    python3 perfbench/compare.py run PARENT_ROOT CHANGE_ROOT --workload W [--seeds 1-10]
    python3 perfbench/compare.py report PARENT.jsonl CHANGE.jsonl
    python3 perfbench/compare.py spread RUNS.jsonl

`run` runs perfbench/run.py untraced in both checkouts, one seed at a
time, alternating which side goes first, then one traced run per side
(for env.calib_s and the layer split), and appends each side's run
records to .bench_build/compare/<workload>-{parent,change}.jsonl in the
current directory, then reports. `report` reads two files of run records
(the lines run.py appends to .bench_build/records/<workload>.jsonl).

For each workload and end-to-end metric it prints each side's median and
quartiles, the share of same-seed pairs the change wins, and a verdict:

  improved     the change wins at least 9 of 10 pairs and the medians
               differ by more than the parent's quartile spread;
  regressed    the change's median is worse than the parent's by more
               than the metric's bound in BENCHMARK.json;
  unresolved   the parent's own spread exceeds the bound and not every
               change run beats every parent run;
  no worse     otherwise.

A change that fails more keys than the parent counts as no gain on any
metric. env.calib_s, the box-speed calibration, is shown per side, and so
is the tracing overhead: a traced run's pass time over the untraced
pass_s of the same seed, less one.

`spread` prints, per workload and end-to-end metric of the untraced runs
in one file, the median, the quartiles and the quartile spread as a share
of the median (the steadiness the bounds in BENCHMARK.json must cover).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def verdict(metric, parent, change, fewer_failures):
    p = {r["seed"]: r["metrics"][metric]["value"] for r in parent}
    c = {r["seed"]: r["metrics"][metric]["value"] for r in change}
    bound = BENCH["bound"][metric]
    sign = 1 if BENCH["better"][metric] == "lower" else -1
    pairs = [(p[s], c[s]) for s in sorted(set(p) & set(c))]
    wins = sum(1 for a, b in pairs if sign * (a - b) > 0)
    win_frac = wins / len(pairs) if pairs else float("nan")
    pq1, pmed, pq3 = quartiles(list(p.values()))
    cq1, cmed, cq3 = quartiles(list(c.values()))
    worse = sign * (cmed - pmed) / pmed if pmed else 0.0
    if worse > bound:
        v = "regressed"
    elif (fewer_failures and pairs and win_frac >= 0.9
          and abs(cmed - pmed) > pq3 - pq1):
        v = "improved"
    elif pmed and (pq3 - pq1) / pmed > bound and not all(
            sign * (a - b) > 0 for a in p.values() for b in c.values()):
        v = "unresolved"
    else:
        v = "no worse"
    return (pmed, pq1, pq3), (cmed, cq1, cq3), win_frac, v


def load_bench():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return {"better": {m["name"]: m["better"] for m in b["end_to_end"]},
            "bound": {m["name"]: m["bound"] for m in b["end_to_end"]},
            "run_seconds": b["run_seconds"]}


BENCH = load_bench()


def tracing_overhead(runs):
    """Median over seeds of traced trace.pass_s / untraced pass_s - 1."""
    untraced = {r["seed"]: r["metrics"]["pass_s"]["value"] for r in runs if not r.get("trace")}
    ratios = [r["metrics"]["trace.pass_s"]["value"] / untraced[r["seed"]] - 1
              for r in runs if r.get("trace") and r["seed"] in untraced]
    return f"{statistics.median(ratios):+.1%}" if ratios else "n/a"


def spread(runs):
    out = {}
    for workload in sorted({r["workload"] for r in runs}):
        rs = [r for r in runs if r["workload"] == workload and not r.get("trace")]
        out[workload] = {"runs": len(rs), "seeds": sorted(r["seed"] for r in rs)}
        for name in BENCH["better"]:
            q1, med, q3 = quartiles([r["metrics"][name]["value"] for r in rs])
            out[workload][name] = {"median": round(med, 6), "q1": round(q1, 6),
                                   "q3": round(q3, 6),
                                   "spread": round((q3 - q1) / med, 4) if med else 0.0}
    print(json.dumps(out, indent=1))


def report(parent, change):
    for workload in sorted({r["workload"] for r in parent} | {r["workload"] for r in change}):
        pw = [r for r in parent if r["workload"] == workload and not r.get("trace")]
        cw = [r for r in change if r["workload"] == workload and not r.get("trace")]
        if not pw or not cw:
            print(f"{workload}: runs missing on one side")
            continue
        pf = statistics.median(len(r["failed_keys"]) for r in pw)
        cf = statistics.median(len(r["failed_keys"]) for r in cw)
        calib = [[r["calib_s"] for r in side if r["workload"] == workload and r.get("trace")]
                 for side in (parent, change)]
        calib = " / ".join(f"{statistics.median(c):.4f}" if c else "n/a" for c in calib)
        overhead = " / ".join(tracing_overhead([r for r in side if r["workload"] == workload])
                              for side in (parent, change))
        print(f"== {workload}: {len(pw)} parent / {len(cw)} change runs; "
              f"env.calib_s median {calib} (traced runs); tracing overhead {overhead}; "
              f"failed keys median {pf} / {cf}")
        print(f"{'metric':14s} {'parent med [q1, q3]':>30s} {'change med [q1, q3]':>30s} "
              f"{'win':>5s}  verdict")
        for name in BENCH["better"]:
            (pm, p1, p3), (cm, c1, c3), win, v = verdict(name, pw, cw, cf <= pf)
            print(f"{name:14s} {pm:12.4f} [{p1:.4f}, {p3:.4f}] "
                  f"{cm:12.4f} [{c1:.4f}, {c3:.4f}] {win:5.2f}  {v}")


def run_side(root, workload, seed, trace=0):
    subprocess.run([sys.executable, os.path.join(root, "perfbench", "run.py"),
                    "--workload", workload, "--seed", str(seed),
                    "--seconds", str(BENCH["run_seconds"]), "--trace", str(trace)],
                   cwd=root, check=True, stdout=subprocess.DEVNULL)
    return load(os.path.join(root, ".bench_build", "records", f"{workload}.jsonl"))[-1]


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("parent_root")
    r.add_argument("change_root")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    p = sub.add_parser("report")
    p.add_argument("parent")
    p.add_argument("change")
    s = sub.add_parser("spread")
    s.add_argument("runs")
    a = ap.parse_args()
    if a.cmd == "report":
        report(load(a.parent), load(a.change))
        return
    if a.cmd == "spread":
        spread(load(a.runs))
        return
    out = os.path.join(".bench_build", "compare")
    os.makedirs(out, exist_ok=True)
    files = {side: os.path.join(out, f"{a.workload}-{side}.jsonl") for side in ("parent", "change")}
    roots = {"parent": os.path.abspath(a.parent_root), "change": os.path.abspath(a.change_root)}
    runs = [(seed, 0) for seed in seeds(a.seeds)] + [(seeds(a.seeds)[0], 1)]
    for i, (seed, trace) in enumerate(runs):
        for side in (("parent", "change") if i % 2 == 0 else ("change", "parent")):
            rec = run_side(roots[side], a.workload, seed, trace)
            with open(files[side], "a") as fh:
                fh.write(json.dumps(rec) + "\n")
    report(load(files["parent"]), load(files["change"]))


if __name__ == "__main__":
    main()
