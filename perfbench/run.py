#!/usr/bin/env python3
"""Benchmark of the graft driver queries (`SparkEntry.queries`).

Run from the root of a checkout:

    python3 perfbench/run.py --workload ops_ann_sf01 --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --selftest

`--seconds` defaults to `run_seconds` of BENCHMARK.json.

One run:
  1. builds the program and the JVM harness with sbt (first run only;
     later runs reuse the build while the sources are unchanged), and
     generates GenData's tables for every scale the workloads use;
  2. makes the workload's inputs from `--seed`: a seed-keyed 90%
     subsample of the fact tables the workload reads, next to the
     other tables unchanged, cached per (workload, sf, seed);
  3. starts one JVM (`local[nproc]`, the session confs of graft.Bench),
     which sets up, writes every query's output once, then runs
     one untimed warm-up pass, then complete passes, one query at a
     time, for `--seconds` seconds; each metric is a median over them;
  4. compares each query's first-pass output with the DuckDB replay
     of `SparkEntry.oracleSql` on the same inputs (`scripts/check.py`);
  5. prints an environment record, then as the last line one JSON
     object with `correct`, `attempted`, `failed` and `metrics`.

With `--trace 0` the metrics are the end-to-end ones, with
`--trace 1` the per-layer ones from the traced passes. The traced
run also writes one JSON line per query to
`.bench_build/out/<workload>-seed<seed>-trace1/trace.jsonl`.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from workloads import EXCLUDED, WORKLOADS  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build")
BENCH_DIR = os.path.join(ROOT, "perfbench")
XMX = "3g"
KEEP_SHARE = 0.9
# fact table -> key column of the seed-keyed subsample; the other
# tables are dimensions and are linked whole
FACT_KEYS = {"lineitem": "l_orderkey", "orders": "o_orderkey", "events": "event_id",
             "documents": "doc_id", "embeddings": "vec_id"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def cpus():
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- build

def source_digest():
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for d in ("src/main", "perfbench/src"):
        files += sorted(os.path.relpath(p, ROOT) for p in glob.glob(f"{ROOT}/{d}/**/*", recursive=True)
                        if os.path.isfile(p))
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode() + b"\0")
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile program + harness; return the runtime classpath."""
    digest = source_digest()
    stamp = os.path.join(WORK, "build.json")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            b = json.load(fh)
        if b["digest"] == digest:
            return b["classpath"]
    log("building program and harness with sbt")
    t0 = time.time()
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "sbt.log"), "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH_DIR, env=sbt_env(), stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
        out.write(r.stdout)
    cps = [ln for ln in r.stdout.splitlines() if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if r.returncode != 0 or not cps:
        fail(f"sbt build failed (exit {r.returncode}); see {WORK}/sbt.log")
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cps[-1].strip()}, fh)
    log(f"built in {time.time() - t0:.1f}s")
    return cps[-1].strip()


def java(classpath, args, log_path, timeout):
    # a heap of fixed size keeps heap resizing out of the timed passes;
    # without it pass_s spread more from run to run
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{XMX}", f"-Xmx{XMX}", f"-Djava.io.tmpdir={WORK}/tmp", "-cp", classpath, "perfbench.Main",
        "--cpus", str(cpus()), "--scratch", f"{WORK}/spark"] + args
    os.makedirs(f"{WORK}/tmp", exist_ok=True)
    # Spark would put its scratch files where SPARK_LOCAL_DIRS says, outside the checkout
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(log_path, "w") as out:
        return subprocess.run(cmd, cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT,
                              stdin=subprocess.DEVNULL, timeout=timeout).returncode


# ---------------------------------------------------------------- inputs

def base_data(classpath, sf):
    """GenData's tables at scale `sf`, generated once per checkout."""
    d = os.path.join(WORK, "data", f"base_sf{sf}")
    if not os.path.isfile(os.path.join(d, "_DONE")):
        log(f"generating GenData sf{sf}")
        shutil.rmtree(d, ignore_errors=True)
        rc = java(classpath, ["--mode", "gen", "--out", d, "--sf", str(sf)],
                  os.path.join(WORK, f"gen_sf{sf}.log"), 840)
        if rc != 0:
            fail(f"GenData sf{sf} failed (exit {rc})")
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def keep_mask(keys, seed):
    """True for about KEEP_SHARE of the keys, chosen by a splitmix64
    hash of (seed, key) -- the same seed keeps the same rows."""
    import numpy as np
    with np.errstate(over="ignore"):
        z = keys.astype(np.uint64) + np.uint64((seed * 0x9E3779B97F4A7C15 + 1) % 2**64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return (z >> np.uint64(11)).astype(np.float64) / 2.0**53 < KEEP_SHARE


def seeded_inputs(base, workload, sf, seed, subsample):
    """GenData's tables with the fact tables in `subsample` subsampled
    by `seed`; byte-identical for the same seed. The other tables are
    hard links to GenData's files."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    parent = os.path.join(WORK, "data", workload)
    d = os.path.join(parent, f"sf{sf}_seed{seed}")
    done = os.path.join(d, "_DONE")
    if not os.path.isfile(done):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        record = {}
        for t in sorted(os.path.basename(p)[:-len(".parquet")]
                        for p in glob.glob(os.path.join(base, "*.parquet"))):
            # one output file per GenData part file, so Spark reads the
            # subsample with as many splits as GenData's own output
            os.makedirs(os.path.join(d, f"{t}.parquet"))
            rows = size = 0
            for i, p in enumerate(sorted(glob.glob(os.path.join(base, f"{t}.parquet", "part-*.parquet")))):
                path = os.path.join(d, f"{t}.parquet", f"part-{i:05d}.parquet")
                if t in subsample:
                    table = pq.read_table(p)
                    keys = pc.fill_null(table[FACT_KEYS[t]], 0).to_numpy()
                    table = table.filter(pa.array(keep_mask(keys, seed)))
                    pq.write_table(table, path, compression="snappy", use_deprecated_int96_timestamps=True)
                    rows += table.num_rows
                else:
                    os.link(p, path)
                    rows += pq.read_metadata(path).num_rows
                size += os.path.getsize(path)
            record[t] = {"rows": rows, "bytes": size, "subsampled": t in subsample}
        with open(done, "w") as fh:
            json.dump(record, fh)
        # keep the cache bounded: the three most recent seeds per workload
        old = sorted(glob.glob(os.path.join(parent, "sf*_seed*")), key=os.path.getmtime)[:-3]
        for o in old:
            shutil.rmtree(o, ignore_errors=True)
    with open(done) as fh:
        return d, json.load(fh)


# ---------------------------------------------------------------- oracle

def oracle_check(verify_dir, input_dir, queries, log_path):
    """Query -> None if scripts/check.py passes its output, else why."""
    env = dict(os.environ, DUCKDB_MEMORY_LIMIT="2GB", DUCKDB_TEMP_DIR=f"{WORK}/duckdb_tmp")
    with open(log_path, "w") as out:
        try:
            r = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"), verify_dir,
                                input_dir], cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=out,
                               stdin=subprocess.DEVNULL, text=True, timeout=120)
        except subprocess.TimeoutExpired:
            return {q: "scripts/check.py timed out" for q in queries}
        out.write(r.stdout)
    result = {q: f"no verdict from scripts/check.py (exit {r.returncode})" for q in queries}
    for line in r.stdout.splitlines():
        verdict, _, rest = line.partition("  ")
        q = rest.split()[0].rstrip(":") if rest.split() else ""
        if q in result and verdict in ("PASS", "FAIL"):
            result[q] = None if verdict == "PASS" else rest[len(q) + 1:].strip()
    return result


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else -1.0


def end_to_end(res, queries, attempted, failed):
    untraced = [p for p in res["passes"] if not p["traced"]]
    complete = [p for p in untraced if len(p["queries"]) == len(queries)]
    per_query = [median([p["queries"][q] for p in untraced if q in p["queries"]]) for q in queries]
    geo = math.exp(statistics.fmean(math.log(t) for t in per_query)) if min(per_query) > 0 else -1.0
    return {
        "pass_s": (median([sum(p["queries"].values()) for p in complete]), "s"),
        "query_geomean_s": (geo, "s"),
        "ok_frac": ((attempted - failed) / attempted, "ratio"),
        "setup_s": (res["setup_s"], "s"),
        "retained_heap_mb": (median([p["retained_heap_mb"] for p in untraced]), "MB"),
    }


def per_layer(res, trace_lines):
    by_pass = {}
    for r in trace_lines:
        by_pass.setdefault(r["pass"], []).append(r)
    rows = []
    for recs in by_pass.values():
        def tot(f):
            return sum(f(r) or 0.0 for r in recs)
        wall = tot(lambda r: r["wall_ms"]) / 1e3
        gap = tot(lambda r: r["gap_ms"]) / 1e3
        busy = tot(lambda r: r["job_busy_ms"]) / 1e3
        run_s = tot(lambda r: r["exec"]["task_run_s"])
        jobs = [j for r in recs for j in r["jobs"]]
        rows.append({
            "driver.gap_s": (gap, "s"),
            "driver.gap_share": (gap / wall if wall else 0.0, "ratio"),
            "entry.build_jobs": (sum(j["phase"] == "build" for j in jobs), "count"),
            "exec.jobs": (len(jobs), "count"),
            "plan.executions": (tot(lambda r: r["plan"]["executions"]), "count"),
            "plan.analysis_s": (tot(lambda r: r["plan"]["analysis_s"]), "s"),
            "plan.optimization_s": (tot(lambda r: r["plan"]["optimization_s"]), "s"),
            "plan.planning_s": (tot(lambda r: r["plan"]["planning_s"]), "s"),
            "exec.stages": (tot(lambda r: r["exec"]["stages"]), "count"),
            "exec.tasks": (tot(lambda r: r["exec"]["tasks"]), "count"),
            "exec.job_busy_s": (busy, "s"),
            "exec.task_run_s": (run_s, "s"),
            "exec.task_cpu_s": (tot(lambda r: r["exec"]["task_cpu_s"]), "s"),
            "exec.task_gc_s": (tot(lambda r: r["exec"]["task_gc_s"]), "s"),
            "exec.slot_util": (run_s / (busy * cpus()) if busy else 0.0, "ratio"),
            "shuffle.read_mb": (tot(lambda r: r["shuffle"]["read_mb"]), "MB"),
            "shuffle.write_mb": (tot(lambda r: r["shuffle"]["write_mb"]), "MB"),
            "shuffle.spill_mb": (tot(lambda r: r["shuffle"]["spill_mb"]), "MB"),
            "io.input_mb": (tot(lambda r: r["io"]["input_mb"]), "MB"),
            "io.output_mb": (tot(lambda r: r["io"]["output_mb"]), "MB"),
            "entry.build_s": (tot(lambda r: r["build_s"]), "s"),
            "action.s": (tot(lambda r: r["action_s"]), "s"),
            "action.jobs": (sum(j["phase"] == "action" for j in jobs), "count"),
            "cleanup.s": (tot(lambda r: r["cleanup_s"]), "s"),
            "cleanup.leaked_mb": (tot(lambda r: r["cleanup"]["leaked_mb"]), "MB"),
            "cleanup.leaked_rdds": (tot(lambda r: r["cleanup"]["leaked_rdds"]), "count"),
            "trace.pass_s": (tot(lambda r: r["wall_s"]), "s"),
        })
    out = {k: (median([r[k][0] for r in rows]), rows[0][k][1]) for k in rows[0]}
    untraced = [sum(p["queries"].values()) for p in res["passes"] if not p["traced"]]
    out["trace.overhead_s"] = (out["trace.pass_s"][0] - median(untraced), "s")
    return out


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


# ---------------------------------------------------------------- main

def selftest(classpath, bench):
    """Exit 3 unless BENCHMARK.json and workloads.py name the same
    workloads, every workload query is a driver query with an oracle,
    and the workloads and the ledger of excluded queries together name
    every driver query exactly once."""
    declared = [w["name"] for w in bench["workloads"]]
    if declared != list(WORKLOADS):
        fail(f"BENCHMARK.json declares workloads {declared}, workloads.py {list(WORKLOADS)}", 3)
    measured = [q for w in WORKLOADS.values() for q in w["queries"]]
    names = os.path.join(WORK, "out", "driver_queries.txt")
    rc = java(classpath, ["--mode", "selftest", "--queries", ",".join(measured), "--out", names],
              os.path.join(WORK, "out", "selftest.log"), 120)
    if rc != 0:
        fail(f"self-test failed: a workload names a query missing from SparkEntry; "
             f"see {WORK}/out/selftest.log", 3)
    with open(names) as fh:
        driver = set(fh.read().split())
    listed = measured + [q for qs in EXCLUDED.values() for q in qs]
    twice = sorted({q for q in listed if listed.count(q) > 1})
    unlisted = sorted(driver - set(listed))
    unknown = sorted(set(listed) - driver)
    if twice or unlisted or unknown:
        fail(f"self-test failed: named twice {twice}; in neither a workload nor the ledger "
             f"{unlisted}; not driver queries {unknown}", 3)
    log(f"self-test passed: {len(set(measured))} measured and {len(listed) - len(measured)} "
        f"excluded queries cover all {len(driver)} driver queries")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check the workloads and the ledger of excluded queries "
                         "against SparkEntry.queries, then exit")
    a = ap.parse_args()
    for f in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "scripts/check.py"):
        if not os.path.isfile(os.path.join(ROOT, f)):
            fail(f"{f} not found: run from the root of a full checkout")
    if not a.selftest and not a.workload:
        fail("--workload is required")

    t_start = time.time()
    classpath = build()
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    if a.selftest:
        selftest(classpath, bench)
        return
    bases = {sf: base_data(classpath, sf) for sf in sorted({w["sf"] for w in WORKLOADS.values()})}

    w = WORKLOADS[a.workload]
    queries = w["queries"]
    input_dir, inputs = seeded_inputs(bases[w["sf"]], a.workload, w["sf"], a.seed,
                                     w.get("subsample", list(FACT_KEYS)))
    out = os.path.join(WORK, "out", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t_prep = time.time()

    rc = java(classpath, ["--mode", "run", "--queries", ",".join(queries), "--input", input_dir,
                          "--out", out, "--seconds", str(a.seconds), "--trace", str(a.trace)],
              f"{out}/jvm.log", 150)
    if rc != 0:
        fail(f"benchmark JVM failed (exit {rc}); see {out}/jvm.log", 4)
    t_jvm = time.time()
    with open(f"{out}/result.json") as fh:
        res = json.load(fh)
    oracle = oracle_check(os.path.join(out, "verify"), input_dir, queries, f"{out}/check.log")
    t_oracle = time.time()

    failures = dict(res["failures"])
    for q, e in res["verify_errors"].items():
        failures[f"{q} (output)"] = e
    for q, e in oracle.items():
        if e is not None and q not in res["verify_errors"]:
            failures[f"{q} (oracle)"] = e
    attempted = len(queries) * (1 + len(res["passes"]))
    failed = len(failures)
    for k, v in failures.items():
        log(f"FAILED {k}: {v[:300]}")

    if a.trace:
        with open(f"{out}/trace.jsonl") as fh:
            trace_lines = [json.loads(ln) for ln in fh if ln.strip()]
        metrics = per_layer(res, trace_lines)
    else:
        metrics = end_to_end(res, queries, attempted, failed)
    env = dict(res["env"], workload=a.workload, sf=w["sf"], seed=a.seed, seconds=a.seconds,
               trace=a.trace, git_commit=git_commit(), source_digest=source_digest()[:16],
               passes=len(res["passes"]), inputs=inputs,
               wall_s={"prepare": round(t_prep - t_start, 2), "jvm": round(t_jvm - t_prep, 2), "oracle": round(t_oracle - t_jvm, 2)})
    summary = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(f"{out}/summary.json", "w") as fh:
        json.dump({"env": env, **summary}, fh, indent=1)
    print(json.dumps({"env": env}))
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
