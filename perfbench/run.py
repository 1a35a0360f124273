#!/usr/bin/env python3
"""Benchmark of the movie ETL engine (graft): one invocation = one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout compiles the
engine and the harness in perfbench/ (sbt, offline) into target/ and
.bench_build/; later runs reuse the build while the sources are unchanged.
Each run starts one JVM (perfbench.Main) that stages the inputs, runs the
workload in a closed loop with one client for S seconds, checks every output
and writes its figures; this script adds the DuckDB oracle check of the
catalog workload and prints, as its last line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones.

Everything a run writes stays under .bench_build/ in the checkout; its
scratch directory is removed when the run ends.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
RUN_LIMIT_S = 170  # a run must end within 180 s, build time aside

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file whose change must trigger a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def classpath():
    """Build the engine and the harness if their sources changed; return
    the harness's runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("the engine's sources (build.sbt, src/main/scala/graft) are not "
            "beside perfbench/; run from a full checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as cf:
                    cp = cf.read().strip()
                # reuse the build only while its outputs are still there
                if all(os.path.exists(p) for p in cp.split(os.pathsep)):
                    return cp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "sbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(BUILD, "build.log")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.server.autostart=false",
             f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
            text=True, timeout=850)
        lf.write(p.stdout)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        die(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1]
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def run_jvm(cp, args, work, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    for d in ("tmp", "spark-local", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    out = os.path.join(work, "result.json")
    spans = os.path.join(BUILD, "traces",
                         f"{args.workload}-seed{args.seed}.spans.jsonl")
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dderby.system.home={work}/derby",
        f"-Dderby.stream.error.file={work}/derby.log",
        "-cp", cp, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", DATA, "--work", work, "--out", out, "--spans", spans,
        "--launched-ms", str(int(time.time() * 1000)),
    ]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    if code != 0 or not os.path.isfile(out):
        with open(log, errors="replace") as lf:
            tail = lf.read()[-4000:]
        print(tail, file=sys.stderr)
        die("the run timed out" if code is None else f"the run exited {code}")
    with open(out) as fh:
        return json.load(fh)


def oracle_mismatches(check_dir, sf_dir, entries):
    """Compare each catalog entry's written result with its DuckDB oracle,
    or with its own verdict columns where it has no oracle. Returns
    {entry: reason} for every entry that is wrong or missing."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        t = os.path.basename(f)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad = {}
    for name in entries:
        files = sorted(glob.glob(os.path.join(check_dir, name, "*.parquet")))
        if not files:
            bad[name] = "no result"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        if name not in oracle:
            verdicts = [c for c in got.columns if c in ("equal", "recall_ok")]
            if len(got) == 0 or not verdicts:
                bad[name] = "no rows or no verdict column"
            elif not all(bool(v) for c in verdicts for v in got[c]):
                bad[name] = "a verdict column is false"
            continue
        exp = con.sql(oracle[name]).df()
        g = got[sorted(got.columns)].reset_index(drop=True)
        e = exp[sorted(exp.columns)].reset_index(drop=True)
        if list(g.columns) != list(e.columns):
            bad[name] = f"columns {list(g.columns)} vs {list(e.columns)}"
        elif len(g) != len(e):
            bad[name] = f"rows {len(g)} vs {len(e)}"
        else:
            for c in g.columns:
                if [repr(x) for x in g[c]] != [repr(x) for x in e[c]]:
                    bad[name] = f"values differ in column {c}"
                    break
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        die("BENCHMARK.json is missing")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {args.workload}")

    cp = classpath()
    start = time.time()
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        res = run_jvm(cp, args, work, start + RUN_LIMIT_S)
        attempted, failed = res["attempted"], res["failed"]
        failures = list(res["failures"])
        detail = res["detail"]
        if "check_dir" in detail["input"]:
            inp = detail["input"]
            bad = oracle_mismatches(inp["check_dir"], inp["sf_dir"],
                                    inp["entries"])
            # a wrong result makes every run of that entry wrong
            failed = min(attempted,
                         failed + len(bad) * res["catalog_runs_per_entry"])
            failures += [f"{k}: {v}" for k, v in sorted(bad.items())]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = dict(res["metrics"])
    if args.trace:
        got["checks.failed_frac"] = failed / attempted
    unknown = sorted(set(got) - {m["name"] for m in declared})
    if unknown:
        die(f"metrics not declared in BENCHMARK.json: {unknown}")
    metrics = {}
    for m in declared:
        v = got.get(m["name"])
        if v is None:
            if not args.trace:
                die(f"end-to-end metric {m['name']} was not measured")
            v = 0.0  # a layer this workload does not exercise
        if not math.isfinite(v):
            die(f"metric {m['name']} is not a finite number")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "failures": failures, "detail": detail}
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "records.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0 and attempted >= 1,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
