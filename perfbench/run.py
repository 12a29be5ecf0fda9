#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics as one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

From the root of a checkout. The first run builds the engine together with
the benchmark runner (perfbench/build.sbt) and caches the classpath; each
run generates its input tables from the seed (cached by seed), runs the
workload in one JVM (perfbench/src/main/scala/perfbench/Runner.scala),
checks every key's output against the DuckDB oracle with the comparison
in tools/check_oracle.py, and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

as the last line of stdout: the end-to-end metrics with --trace 0, the
per-layer metrics (listeners on) with --trace 1. Everything it writes
stays under .bench_build/ in the checkout; the full run record is
appended to .bench_build/records/<workload>.jsonl (compare.py reads it)
and a traced run's spans go to .bench_build/traces/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import datagen  # noqa: E402

WORKLOAD_TIER = {"sf01_warm": "sf01", "x10_warm": "x10"}
JVM_TIMEOUT_S = 170
ORACLE_TIMEOUT_S = 20
KEEP_X10_TIERS = 10
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config={home}/.sbt/repositories "
            "-Dsbt.offline=true -Xmx2g")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
MB = 1024.0 * 1024.0

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("query_p50_s", "s"),
              ("query_p90_s", "s"), ("ok_frac", "frac"), ("staged_mb", "MB")]
PER_LAYER = [
    ("construct.s", "s"), ("construct.jobs", "count"),
    ("catalyst.plan_s", "s"), ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"), ("catalyst.planning_s", "s"),
    ("catalyst.codegen_compiles", "count"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.input_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"), ("exec.output_mb", "MB"), ("exec.gc_s", "s"),
    ("exec.core_util", "frac"),
    ("staging.setup_builds", "count"), ("staging.builds", "count"),
    ("staging.hit_frac", "frac"),
    ("streams.drain_s", "s"), ("streams.batches", "count"), ("streams.queries", "count"),
    ("tables.files_discovered", "count"), ("tables.file_cache_hits", "count"),
    ("env.calib_s", "s"), ("jvm.jit_s", "s"),
    ("trace.pass_s", "s")]
# layer metrics measured once per run (in set-up or outside the passes)
PER_RUN = {"staging.setup_builds", "streams.drain_s", "streams.batches",
           "streams.queries", "env.calib_s", "trace.pass_s"}


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Compiles engine + runner once per source state; returns the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("engine sources (src/main/scala/graft) not found in this checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "classpath-" + h.hexdigest()[:16])
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=SBT_OPTS.format(home=os.path.expanduser("~")))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ":" not in lines[-1] or " " in lines[-1].strip():
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(lines[-1].strip())
    return lines[-1].strip()


def java_cmd(classpath, work, main, args):
    """A JVM for `main` with build.sbt's run options, its tmpdir in `work`."""
    return (["java", "-Xmx4g"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               "-cp", classpath + os.pathsep + "/opt/spark/jars/*", main] + args)


def evict_tiers(keep):
    """Bounds the x10 input cache to the `keep` most recently used tiers."""
    tiers = sorted(glob.glob(os.path.join(BUILD, "data", "x10-*")), key=os.path.getmtime)
    for t in tiers[:-keep] if len(tiers) > keep else []:
        shutil.rmtree(t, ignore_errors=True)


def excluded_keys(workload):
    """Keys measure_exclusions.py found unusable for this workload."""
    with open(os.path.join(HERE, "excluded.json")) as fh:
        ex = json.load(fh)
    tier = WORKLOAD_TIER[workload]
    keys = set(ex["oracle_over_budget"][tier]) | set(ex["oracle_mismatch"][tier])
    if tier == "x10":
        keys |= set(ex["x10_growth"])
    return sorted(keys)


def duckdb_connection(data_dir):
    """DuckDB over the tier's tables, capped so an oracle cannot take the
    machine's memory."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET threads={os.cpu_count()}")
    con.execute("SET memory_limit='3GB'")
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def check_outputs(record, data_dir):
    """Compares each key's written result with its DuckDB oracle and, for
    timed keys, with the row count the timed passes saw. Returns
    {key: reason} for misses."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import pandas as pd
    from check_oracle import compare

    con = duckdb_connection(data_dir)
    bad = dict(record["check_errors"])
    timed_rows = {}
    for p in record["passes"]:
        for k, v in p["keys"].items():
            if v["error"]:
                bad.setdefault(k, v["error"])
            else:
                timed_rows.setdefault(k, set()).add(v["rows"])
    for k in record["keys"] + record["setup_keys"]:
        if k in bad:
            continue
        files = sorted(glob.glob(os.path.join(record["check_dir"], k, "*.parquet")))
        s = pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()
        if k in record["keys"] and timed_rows.get(k) != {len(s)}:
            bad[k] = f"row count {len(s)} differs from timed passes {sorted(timed_rows.get(k, []))}"
            continue
        sql = record["oracle_sql"].get(k)
        if sql is None:
            continue
        timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
        timer.start()
        try:
            why = compare(k, s, con.sql(sql).df())
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"DuckDB error: {e}"
        finally:
            timer.cancel()
        if why:
            bad[k] = why
    return bad


def metrics(record, bad, trace):
    passes = record["passes"]
    # per-key latency: each key's median over the timed passes, so the
    # percentiles over keys do not hinge on which pass a key ran slow in
    by_key = {}
    for p in passes:
        for k, v in p["keys"].items():
            if not v["error"]:
                by_key.setdefault(k, []).append(v["latency_s"])
    lat = [statistics.median(v) for v in by_key.values()]
    if not lat:
        fail("no key completed in the timed passes")
    # every timed key in every timed pass, plus every key's output check
    attempted = len(record["keys"]) * (len(passes) + 1) + len(record["setup_keys"])
    failed = sum(1 for p in passes for v in p["keys"].values() if v["error"])
    failed += len(set(bad) - {k for p in passes for k, v in p["keys"].items() if v["error"]})
    if not trace:
        m = {
            "setup_s": record["setup_s"],
            "pass_s": statistics.median(p["wall_s"] for p in passes),
            "query_p50_s": statistics.median(lat),
            "query_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[8],
            "ok_frac": 1.0 - failed / attempted,
            "staged_mb": record["staged_bytes"] / MB,
        }
        units = END_TO_END
    else:
        def med(name):
            return statistics.median(p["layers"][name] for p in passes)
        m = {name: med(name) for name, _ in PER_LAYER if name not in PER_RUN}
        m.update(record["streams"])
        m["staging.setup_builds"] = record["setup_builds"]
        m["env.calib_s"] = record["calib_s"]
        m["trace.pass_s"] = statistics.median(p["wall_s"] for p in passes)
        units = PER_LAYER
    return attempted, failed, {n: {"value": m[n], "unit": u} for n, u in units}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOAD_TIER:
        fail(f"unknown workload {a.workload!r}; known: {sorted(WORKLOAD_TIER)}")
    if not os.path.isfile(os.path.join(ROOT, "tools", "check_oracle.py")):
        fail("tools/check_oracle.py not found in this checkout")

    t_start = time.time()
    classpath = build()
    t_built = time.time()
    tier = WORKLOAD_TIER[a.workload]
    data_dir = datagen.ensure_tier(os.path.join(BUILD, "data"), tier, a.seed)
    os.utime(data_dir)
    evict_tiers(KEEP_X10_TIERS)

    work = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    rec_file = os.path.join(work, "record.json")
    cmd = java_cmd(classpath, work, "perfbench.Runner", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data_dir, "--work", work,
        "--record", rec_file, "--costs", os.path.join(HERE, "key_costs.json"),
        "--exclude", ",".join(excluded_keys(a.workload))])
    t_jvm0 = time.time()
    try:
        with open(os.path.join(work, "jvm.log"), "w") as log:
            p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail(f"runner exceeded {JVM_TIMEOUT_S} s")
        if rc != 0 or not os.path.isfile(rec_file):
            with open(os.path.join(work, "jvm.log")) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail(f"runner exited {rc}")
        with open(rec_file) as fh:
            record = json.load(fh)
        t_jvm = time.time()
        bad = check_outputs(record, data_dir)
        attempted, failed, m = metrics(record, bad, a.trace == 1)
    finally:
        # keeps the JVM log of the latest run, retires its staged artifacts
        # and written outputs
        if os.path.isfile(os.path.join(work, "jvm.log")):
            shutil.copy(os.path.join(work, "jvm.log"), os.path.join(BUILD, "last-jvm.log"))
        shutil.rmtree(work, ignore_errors=True)

    summary = {k: v for k, v in record.items()
               if k not in ("passes", "spans", "oracle_sql", "check_dir")}
    summary.update(trace=a.trace, failed_keys=bad, metrics=m, time=time.time(),
                   wall_s={"build": t_built - t_start, "jvm": t_jvm - t_jvm0,
                           "check": time.time() - t_jvm, "total": time.time() - t_start},
                   passes=[{"wall_s": p["wall_s"], "layers": p["layers"],
                            "latency_s": {k: v["latency_s"] for k, v in p["keys"].items()}}
                           for p in record["passes"]])
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(os.path.join(BUILD, "records", f"{a.workload}.jsonl"), "a") as fh:
        fh.write(json.dumps(summary) + "\n")
    if a.trace:
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        with open(os.path.join(BUILD, "traces", f"{a.workload}-s{a.seed}.json"), "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "spans": record["spans"]}, fh)
    for k, why in sorted(bad.items()):
        print(f"[perfbench] {k}: {why}", file=sys.stderr)
    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": m}))


if __name__ == "__main__":
    main()
