#!/usr/bin/env python3
"""Benchmark of the SCD library: ingest through `ScdEngine.merge` and a cold
pass over the query catalogue.

    python3 perfbench/run.py --workload ingest_micro --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. The first run builds the library and the
harness with sbt (perfbench/build.sbt); later runs reuse that build until a
source file changes. One JVM runs the workload on `local[4]` and writes a
result file; this script checks outputs, computes the metrics and prints
them, one per line, then the result as one JSON line.

Other modes:
    --check-counts   run the traced workload twice with one seed and check
                     that the job counts repeat exactly
    --overhead       run untraced and traced with one seed and print the
                     difference of the end-to-end metrics (tracing cost)
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("ingest_micro", "catalogue")
CORES = 4
HEAP = "2g"
# Scale factors of the catalogue's tables: timed passes, and codegen warm-up.
CATALOGUE_SF = 0.01
WARM_SF = 0.001
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
# Seed when none is given; NOTES.md names the seed held out for claims.
DEFAULT_SEED = 1

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# Per-layer metrics and the field of the traced rows each aggregates.
INGEST_LAYERS = [
    ("ScdEngine.merge.jobs", "count", "jobs"),
    ("ScdEngine.merge.driver_s", "s", "driver_s"),
    ("ScdEngine.merge.job_s", "s", "job_s"),
    ("ScdEngine.merge.write_s", "s", "write_s"),
    ("ScdEngine.merge.task_cpu_s", "s", "task_cpu_s"),
    ("ScdEngine.merge.shuffle_bytes", "B", "shuffle_bytes"),
    ("ScdEngine.merge.spill_bytes", "B", "spill_bytes"),
    ("Scd2.incremental.s", "s", "incremental_s"),
    ("ScdEngine.merge.jit_s", "s", "jit_s"),
    ("ScdEngine.merge.gc_s", "s", "gc_s"),
]
CATALOGUE_LAYERS = [
    ("SparkEntry.construct_s", "s", "construct_s"),
    ("SparkEntry.construct_jobs", "count", "construct_jobs"),
    ("catalyst.plan_s", "s", "plan_s"),
    ("exec.exec_s", "s", "exec_s"),
    ("exec.jobs", "count", "exec_jobs"),
    ("exec.stages", "count", "exec_stages"),
    ("exec.task_cpu_s", "s", "exec_task_cpu_s"),
    ("exec.shuffle_bytes", "B", "exec_shuffle_bytes"),
    ("exec.spill_bytes", "B", "exec_spill_bytes"),
    ("catalogue.jit_s", "s", "jit_s"),
    ("catalogue.gc_s", "s", "gc_s"),
]
COUNTS = ("ScdEngine.merge.jobs", "SparkEntry.construct_jobs", "exec.jobs")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    files += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    files += glob.glob(os.path.join(ROOT, "project", "build.properties"))
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(set(files))


def classpath():
    """The runtime classpath, building first when a source changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "ScdEngine.scala"))):
        fail("no library sources next to perfbench/ (run from a checkout root)")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building library and harness with sbt")
    t0 = time.time()
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in out.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


# ------------------------------------------------------------ run one JVM

def run_jvm(cp, workload, seed, seconds, trace, run_dir, data_dir, limit_s):
    """Run the workload in one JVM and return its result file."""
    out = os.path.join(run_dir, "result.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + JDK_OPENS +
           ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--run-dir", run_dir, "--data-dir", data_dir, "--out", out,
            "--cores", str(CORES)])
    err_path = os.path.join(run_dir, "jvm.log")
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("workload JVM timed out")
    if code != 0 or not os.path.isfile(out):
        with open(err_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        fail(f"workload JVM exited with {code}")
    with open(out) as fh:
        return json.load(fh)


# -------------------------------------------------------------- oracles

def oracle_check(res, data_dir):
    """Compare each sampled query's dumped output with its DuckDB twin, as
    tools/check_oracle.py does: column-name-sorted, row-sorted, stringified.
    Returns {query: failure message} for the queries that do not match."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(data_dir, "bench", "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{f}'")
    bad = {}
    for q, sql in sorted(res["oracle_sql"].items()):
        if q in res["dump_errors"]:
            bad[q] = "spark error: " + res["dump_errors"][q]
            continue
        if sql is None:
            bad[q] = "no oracle SQL"
            continue
        files = sorted(glob.glob(os.path.join(res["check_dir"], q, "*.parquet")))
        try:
            exp = con.execute(sql).fetchdf()
        except Exception as e:  # the oracle itself failing is a failed check
            bad[q] = f"oracle error: {e}"
            continue
        act = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        acols, ecols = sorted(act.columns), sorted(exp.columns)
        if acols != ecols:
            bad[q] = f"columns {acols} vs {ecols}"
            continue
        a = act[acols].sort_values(acols, kind="mergesort").reset_index(drop=True)
        e = exp[ecols].sort_values(ecols, kind="mergesort").reset_index(drop=True)
        if len(a) != len(e):
            bad[q] = f"rows {len(a)} vs {len(e)}"
            continue
        a, e = a.astype(str), e.astype(str)
        if not a.equals(e):
            bad[q] = f"{int((a != e).any(axis=1).sum())} differing rows of {len(a)}"
    return bad


# --------------------------------------------------------------- metrics

def tail(xs):
    """Highest sample with at least ten samples above it, and its
    percentile; the maximum when there are fewer than eleven samples."""
    s = sorted(xs)
    if len(s) < 11:
        return s[-1], 100.0
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res):
    """End-to-end metrics of a run, and report lines with the names each
    metric has on this workload. None when no operation succeeded."""
    w = res["workload"]
    rows = res["rows"]
    ok = [r for r in rows if r["ok"]]
    failed = len(rows) - len(ok)
    key, op, ops = (("total_s", "query", "queries") if w == "catalogue"
                    else ("merge_s", "merge", "merges"))
    times = [r[key] for r in ok]
    if not times:
        return None, []
    t, pct = tail(times)
    setup = res["session_s"] + res["setup_s"]
    e2e = {
        "setup_s": (setup, "s"),
        "op_p50_s": (median(times), "s"),
        "ops_per_s": (len(times) / sum(times), "1/s"),
    }
    named = [("setup_s", setup, "s"),
             (f"{op}_p50_s", median(times), f"s (median of {len(times)} {ops})"),
             (f"{op}_tail_s", t, f"s (p{pct:.0f} of {len(times)} {ops})")]
    if w == "catalogue":
        passes = sorted({r["pass"] for r in rows})
        pass_s = median([sum(r[key] for r in ok if r["pass"] == p) for p in passes])
        named += [("pass_s", pass_s, f"s (median of {len(passes)} passes of "
                                     f"{len(res['sample'])} queries)")]
    else:
        named += [("ingest_rows_per_s", sum(r["rows"] for r in ok) / sum(times), "rows/s"),
                  ("table_bytes_per_version", res["table_bytes"] / max(1, res["versions"]),
                   f"B ({res['table_bytes']} B / {res['versions']} versions)")]
    named += [("peak_heap_mb", max(r["heap_mb"] for r in ok),
               "MB (highest heap retained after an operation)"),
              ("fail_ratio", failed / len(rows), f"({failed} of {len(rows)} failed)")]
    return e2e, [f"metric {n} {v:.6g} {u}" for n, v, u in named]


def per_layer(res):
    """Per-layer metrics of a traced run, and report lines that add the
    self time of each span name. A workload that never calls a layer
    reports 0 for it."""
    w = res["workload"]
    ok = [r for r in res["rows"] if r["ok"]]
    for r in ok:
        r["jit_s"], r["gc_s"] = r["jit_ms"] / 1e3, r["gc_ms"] / 1e3
    layers = {}
    ing = [] if w == "catalogue" else ok
    for name, unit, key in INGEST_LAYERS:
        layers[name] = (median([r[key] for r in ing]), unit)
    layers["ScdEngine.merge.buckets_touched_frac"] = (
        median([r["buckets_touched"] / r["buckets"] for r in ing]), "ratio")
    layers["ScdEngine.merge.bytes_rewritten_per_row"] = (
        median([r["bytes_rewritten"] / r["rows"] for r in ing]), "B/row")
    merge_s = sum(r["merge_s"] for r in ing)
    layers["ScdEngine.merge.core_busy_frac"] = (
        sum(r["task_run_s"] for r in ing) / (merge_s * CORES) if merge_s else 0.0, "ratio")
    cat = ok if w == "catalogue" else []
    passes = sorted({r["pass"] for r in cat})

    def per_pass(f):
        return median([sum(f(r) for r in cat if r["pass"] == p) for p in passes])
    for name, unit, key in CATALOGUE_LAYERS:
        layers[name] = (per_pass(lambda r: r[key]), unit)
    stages = sum(r["exec_stages"] for r in cat)
    layers["exec.tasks_per_stage"] = (
        sum(r["exec_tasks"] for r in cat) / stages if stages else 0.0, "count")
    exec_s = sum(r["exec_s"] for r in cat)
    layers["exec.core_busy_frac"] = (
        sum(r["exec_task_run_s"] for r in cat) / (exec_s * CORES) if exec_s else 0.0, "ratio")
    layers["catalogue.scd_core_s"] = (per_pass(lambda r: r["total_s"] if r["core"] else 0.0), "s")
    layers["catalogue.library_s"] = (per_pass(lambda r: 0.0 if r["core"] else r["total_s"]), "s")
    self_s = {}
    for sp in res["spans"]:
        self_s[sp["name"]] = self_s.get(sp["name"], 0.0) + sp["self_s"]
    lines = [f"layer {n} {v:.6g} {u}" for n, (v, u) in layers.items()]
    lines += [f"self {n} {v:.6g} s (summed over the run)" for n, v in sorted(self_s.items())]
    return layers, lines


# ------------------------------------------------------------------ main

def run_once(cp, workload, seed, seconds, trace):
    deadline = time.time() + RUN_LIMIT_S
    run_dir = os.path.join(BUILD, "runs", f"{workload}-{seed}-{os.getpid()}-{int(trace)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        data_dir = os.path.join(run_dir, "data")
        if workload == "catalogue":
            sys.path.insert(0, HERE)
            import tables
            tables.generate(os.path.join(data_dir, "bench"), CATALOGUE_SF, seed)
            tables.generate(os.path.join(data_dir, "warm"), WARM_SF, seed)
        res = run_jvm(cp, workload, seed, seconds, trace, run_dir, data_dir,
                      deadline - time.time() - 10)
        res["oracle_failures"] = oracle_check(res, data_dir) if workload == "catalogue" else {}
        for r in res["rows"]:
            if r.get("query") in res["oracle_failures"]:
                r["ok"] = False
                r["error"] = "oracle: " + res["oracle_failures"][r["query"]]
        if not res.get("correct", True):
            # The table check covers every merge of the loop: none of them
            # counts as a correct operation.
            for r in res["rows"]:
                r["ok"] = False
        res["correct"] = all(r["ok"] for r in res["rows"])
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        with open(os.path.join(BUILD, "results", f"{workload}-seed{seed}-trace{int(trace)}.json"),
                  "w") as fh:
            json.dump(res, fh)
        return res
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def check_counts(results):
    """Exit status 0 when the counts repeat exactly across the two runs."""
    (l0, _), (l1, _) = per_layer(results[0]), per_layer(results[1])
    bad = [n for n in COUNTS if l0[n][0] != l1[n][0]]
    for n in COUNTS:
        print(f"count {n} {l0[n][0]} {l1[n][0]} {'DIFFERENT' if n in bad else 'same'}")
    keys = ("jobs", "construct_jobs", "exec_jobs")
    r0, r1 = ({r["op"]: r for r in res["rows"] if r["ok"]} for res in results)
    common = sorted(set(r0) & set(r1))
    for op in common:
        for k in keys:
            if r0[op].get(k) != r1[op].get(k):
                bad.append(f"{op}.{k}")
                print(f"count {op}.{k} {r0[op].get(k)} {r1[op].get(k)} DIFFERENT")
    print(f"check-counts {'FAIL' if bad else 'PASS'} over {len(common)} operations in both runs")
    return 1 if bad else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check-counts", action="store_true")
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    cp = classpath()

    if a.check_counts:
        results = [run_once(cp, a.workload, a.seed, a.seconds, True) for _ in range(2)]
        sys.exit(check_counts(results))
    if a.overhead:
        untraced, traced = (end_to_end(run_once(cp, a.workload, a.seed, a.seconds, t))[0]
                            for t in (False, True))
        for n, (v, u) in untraced.items():
            print(f"overhead {n} {traced[n][0] - v:+.6g} {u} "
                  f"(traced {traced[n][0]:.6g}, untraced {v:.6g})")
        return

    res = run_once(cp, a.workload, a.seed, a.seconds, bool(a.trace))
    e2e, lines = end_to_end(res)
    for r in res["rows"]:
        print("row " + json.dumps(r, sort_keys=True))
    for r in res["rows"]:
        if not r["ok"]:
            print(f"failed {r['op']}: {r.get('error', 'output check failed')}")
    if res["workload"] != "catalogue":
        print(f"check extra_rows={res['check_extra_rows']} missing_rows={res['check_missing_rows']} "
              f"invariant_violations={json.dumps(res['check_invariant_violations'], sort_keys=True)} "
              f"mix={json.dumps(res['mix'], sort_keys=True)}")
    if e2e is None:
        fail("no operation succeeded", 1)
    metrics = e2e
    if a.trace:
        metrics, layer_lines = per_layer(res)
        lines += layer_lines
    for line in lines:
        print(line)
    print(json.dumps({
        "correct": bool(res["correct"]), "attempted": len(res["rows"]),
        "failed": sum(not r["ok"] for r in res["rows"]),
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
