#!/usr/bin/env python3
"""Re-derives perfbench/excluded.json and perfbench/key_costs.json.

    python3 perfbench/measure_exclusions.py [--seeds 1-3]
    python3 perfbench/measure_exclusions.py --keys k1,k2 --seeds 1-10

From the root of a checkout. For each seed it runs every key on the
generated sf0.1 tier and every relational key on its 10x replica
(KeySweep: one pass writing each key's result, one warm pass on the timed
code path), times each key's DuckDB oracle on that tier and compares the
written result with it. Every list is measured afresh from these seeds;
none is carried over from an earlier file or is a judgement about the
engine:

  oracle_over_budget  the oracle does not finish within ORACLE_BUDGET_S
                      under the check's DuckDB limits (first seed), so the
                      key's output cannot be checked inside a run;
  oracle_mismatch     the key threw, or its output differed from its
                      oracle, on one of the seeds: a defect of the key or
                      its oracle, named with the seed and the first
                      differing cell;
  x10_growth          the key's output grows more than 10x under the 10x
                      replica (first seed): it pairs rows on non-id
                      attributes the replica copies verbatim, so its work
                      grows quadratically and it would swamp x10_warm.

key_costs.json holds each key's warm latency on each tier (first seed);
perfbench.Runner samples each workload's keys by it.

With --keys only the named keys are swept and the findings are printed,
not written.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import datagen  # noqa: E402
import run  # noqa: E402

ORACLE_BUDGET_S = 3.0


def sweep(classpath, data_dir, which, work, keys):
    """KeySweep's record of every key, by key; outputs under `work`."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = [data_dir, work, which] + ([keys] if keys else [])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        subprocess.run(run.java_cmd(classpath, work, "perfbench.KeySweep", args),
                       cwd=work, check=True, stdout=log, stderr=subprocess.STDOUT)
    with open(os.path.join(work, "keys.jsonl")) as fh:
        return {r["key"]: r for r in map(json.loads, fh)}


def oracle(con, sql):
    """(seconds, result frame), or (error string, None)."""
    timer = threading.Timer(ORACLE_BUDGET_S * 2, con.interrupt)
    timer.start()
    t0 = time.time()
    try:
        df = con.sql(sql).df()
        return round(time.time() - t0, 3), df
    except Exception as e:
        return f"{type(e).__name__} after {time.time() - t0:.1f} s", None
    finally:
        timer.cancel()


def check_tier(recs, data_dir, work, seed):
    """({key: over-budget reason}, {key: mismatch reason}) for one sweep."""
    sys.path.insert(0, os.path.join(run.ROOT, "tools"))
    import pandas as pd
    from check_oracle import compare

    con = run.duckdb_connection(data_dir)
    over, mismatch = {}, {}
    for k, r in sorted(recs.items()):
        if r["error"]:
            mismatch[k] = f"Spark error: {r['error'][:200]}"
            continue
        if r["oracle"] is None:
            continue
        s, want = oracle(con, r["oracle"])
        if want is None or s > ORACLE_BUDGET_S:
            over[k] = s if want is None else f"{s} s"
            continue
        files = sorted(glob.glob(os.path.join(work, k, "*.parquet")))
        got = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        why = compare(k, got, want)
        if why:
            mismatch[k] = why
    return over, mismatch


def seed_list(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1")
    ap.add_argument("--keys", default="")
    a = ap.parse_args()
    classpath = run.build()
    over, mismatch, growth = {"sf01": {}, "x10": {}}, {"sf01": {}, "x10": {}}, {}
    costs = {}
    for i, seed in enumerate(seed_list(a.seeds)):
        rows = {}
        for tier, which in (("sf01", "all"), ("x10", "relational")):
            data_dir = datagen.ensure_tier(os.path.join(run.BUILD, "data"), tier, seed)
            work = os.path.join(run.BUILD, "exclusions", tier)
            rows[tier] = sweep(classpath, data_dir, which, work, a.keys)
            o, m = check_tier(rows[tier], data_dir, work, seed)
            for k, why in m.items():
                mismatch[tier].setdefault(k, {"seeds": [], "first": f"seed {seed}: {why}"})
                mismatch[tier][k]["seeds"].append(seed)
            if i == 0:
                over[tier] = o
                costs[tier] = {k: round(r["latency_s"], 4) for k, r in sorted(rows[tier].items())
                               if not r["error"]}
            print(f"[exclusions] seed {seed} {tier}: {len(rows[tier])} keys, "
                  f"{len(o)} over budget, {len(m)} mismatched", file=sys.stderr)
        if i == 0:
            for k, r in sorted(rows["x10"].items()):
                base = rows["sf01"].get(k, {}).get("rows", 0)
                if base > 0 and r["rows"] > 10 * base:
                    growth[k] = round(r["rows"] / base, 1)
    mismatch = {tier: {k: f"fails on seeds {v['seeds']} of {a.seeds}; {v['first']}"
                       for k, v in sorted(m.items())} for tier, m in mismatch.items()}
    out = {"seeds": a.seeds, "oracle_budget_s": ORACLE_BUDGET_S,
           "oracle_over_budget": over, "oracle_mismatch": mismatch, "x10_growth": growth}
    if a.keys:
        print(json.dumps(out, indent=1))
        return
    for name, doc in (("excluded.json", out),
                      ("key_costs.json", dict(costs, seed=seed_list(a.seeds)[0]))):
        with open(os.path.join(HERE, name), "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
            fh.write("\n")
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
