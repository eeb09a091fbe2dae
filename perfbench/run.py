#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a source checkout. Builds the engine and the benchmark
from source (once per source state), runs one JVM that measures set-up, a
cold pass and warm passes over the committed input tables
(perfbench/fixtures), checks every op's output, and prints the metrics; the
last stdout line is one JSON object.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SCALE = 0.01         # scale factor of the measured passes
SELFTEST_SCALE = 0.001  # scale factor of the self-test's inputs
HEAP = "3g"
WORKLOADS = ("tpch_analytics", "index_dedup")
E2E = [("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"),
       ("disk_mb", "MB"), ("live_heap_mb", "MB")]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build compiles, to know when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: no engine sources next to the benchmark; run it from a source checkout")
    digest = source_digest()
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp) and open(stamp).read() == digest and os.path.isfile(cp_file):
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit("perfbench: build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1].strip()


def fixtures(sf):
    """The engine's test fixtures at scale `sf`, committed verbatim under
    perfbench/fixtures/; refuses to run on tables that differ from them."""
    base = os.path.join(HERE, "fixtures")
    with open(os.path.join(base, "SHA256SUMS")) as fh:
        sums = [l.split() for l in fh]
    for digest, name in sums:
        if not name.startswith(f"sf{sf}/"):
            continue
        with open(os.path.join(base, name), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                sys.exit(f"perfbench: fixture {name} differs from SHA256SUMS")
    return os.path.join(base, f"sf{sf}")


def source_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "source-" + source_digest()[:16]


def java(cp, main, args, scratch, stdout=sys.stderr):
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    # program defaults only: no engine flag, and no JVM option from outside
    launch_opts = ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS")
    if any("graft." in os.environ.get(k, "") for k in launch_opts):
        sys.exit("perfbench: refusing to run with engine flags (-Dgraft.*) in the JVM options")
    env = {k: v for k, v in os.environ.items() if k not in launch_opts}
    # Spark's local dir (shuffle and spill files) lives under java.io.tmpdir,
    # so the run's disk footprint is measured over both
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    return subprocess.run(cmd, cwd=scratch, env=env, stdout=stdout).returncode


def oracle(con, sql, fixtures_dir, canon):
    """The DuckDB answer of `sql` in canonical form. It depends only on the SQL
    text and the fixed input tables, so it is computed once per checkout."""
    key = hashlib.sha256(f"{fixtures_dir}\n{sql}".encode()).hexdigest()
    path = os.path.join(BUILD, "oracle", key + ".pkl")
    if os.path.isfile(path):
        import pandas as pd
        return pd.read_pickle(path)
    want = canon(con.execute(sql).df())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    want.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return want


def check(result):
    """Correctness of the dumped outputs; returns {op: problem or None}."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import pandas as pd
    from check import TABLES, canon
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{result['fixtures']}/{t}.parquet'")
    counts = {}
    for p in result["passes"]:
        for r in p["ops"]:
            if r["error"] is None:
                counts.setdefault(r["op"], set()).add(r["rows"])
    verdict = {}
    for d in result["dumps"]:
        op = d["op"]
        if d["error"] is not None or not d["paths"]:
            verdict[op] = f"check evaluation failed: {d['error']}"
            continue
        frames = [pd.read_parquet(p) for p in d["paths"]]
        rows = counts.get(op, set()) | {len(f) for f in frames}
        if len(rows) != 1:
            verdict[op] = f"row count differs across passes: {sorted(rows)}"
        elif op in result["oracle"]:
            want = oracle(con, result["oracle"][op], result["fixtures"], canon)
            got = frames[0]
            if sorted(got.columns) != sorted(want.columns):
                verdict[op] = f"columns differ: {sorted(got.columns)} vs {sorted(want.columns)}"
            elif not canon(got).equals(want):
                verdict[op] = "differs from the DuckDB oracle"
            else:
                verdict[op] = None
        else:
            digests = {hashlib.sha256(canon(f).to_csv(index=False).encode()).hexdigest()
                       for f in frames}
            verdict[op] = None if len(digests) == 1 else "content differs across passes"
    return verdict


def selftest():
    cp = build()
    scratch = os.path.join(BUILD, "runs", f"selftest-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        code = java(cp, "graft.perfbench.SelfTest",
                    ["--fixtures", fixtures(SELFTEST_SCALE)], scratch, None)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print("selftest " + ("passed" if code == 0 else "FAILED"))
    return code


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--only", default="", help="comma-separated op subset (development)")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if a.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {a.workload!r}; known: {', '.join(WORKLOADS)}")
    cp = build()
    fx = fixtures(SCALE)
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    scratch = os.path.join(BUILD, "runs", f"{run_id}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    out = os.path.join(scratch, "result.json")
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--fixtures", fx,
                "--scratch", scratch, "--out", out, "--head", source_head()]
        if a.only:
            args += ["--only", a.only]
        t0 = time.time()
        code = java(cp, "graft.perfbench.Main", args, scratch)
        t1 = time.time()
        if code != 0 or not os.path.isfile(out):
            sys.exit(f"perfbench: benchmark JVM exited with code {code}")
        with open(out) as fh:
            result = json.load(fh)
        verdict = check(result)
        log(f"jvm {t1 - t0:.1f} s, check {time.time() - t1:.1f} s")
    finally:
        results = os.path.join(BUILD, "results")
        os.makedirs(results, exist_ok=True)
        if os.path.isfile(out):
            shutil.copy(out, os.path.join(results, f"{run_id}.json"))
        shutil.rmtree(scratch, ignore_errors=True)

    attempted = sum(len(p["ops"]) for p in result["passes"])
    failed = sum(1 for p in result["passes"] for r in p["ops"] if r["error"] is not None)
    wrong = sorted(op for op, v in verdict.items() if v is not None)
    result["check"] = verdict
    with open(os.path.join(results, f"{run_id}.json"), "w") as fh:
        # paths in the record are relative to the checkout root
        fh.write(json.dumps(result).replace(ROOT + os.sep, ""))
    for op in wrong:
        log(f"WRONG {op}: {verdict[op]}")
    e2e = result["end_to_end"]
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(result["per_layer"].items())}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    print(f"workload {a.workload} seed {a.seed}: {len(result['passes']) - 1} warm passes "
          f"({result['warm_passes']} untraced), cores {result['cores']}, "
          f"load {result['load_start']:.2f} -> {result['load_end']:.2f}")
    for k, m in metrics.items():
        print(f"  {k:40s} {m['value']:14.4f} {m['unit']}")
    print(f"  {'fail_share':40s} {failed / attempted:14.4f} ratio ({failed} of {attempted} op calls threw)")
    print(f"  {'wrong_share':40s} {len(wrong) / max(1, len(verdict)):14.4f} ratio "
          f"({len(wrong)} of {len(verdict)} ops checked)")
    print(json.dumps({"correct": not wrong and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def unit_of(name):
    m = name.split(".")[-1]
    if m.endswith("_s"):
        return "s"
    if m.endswith("_mb"):
        return "MB"
    if m in ("replication", "task_skew"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
