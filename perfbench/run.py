#!/usr/bin/env python3
"""Runs one workload of the graft benchmark from the root of a checkout.

    python3 perfbench/run.py --workload serve|pipeline \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --pin     # re-pin the pipeline answers

The first run in a checkout builds the library and the benchmark with
sbt (perfbench/build.sbt depends on the checkout's own build) and caches
the resulting classpath under .bench_build/, keyed by a hash of every
source and build file; later runs start the JVM directly.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. The exit code is 0 only if every
answer was correct.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    pats = ["build.sbt", "project/build.properties", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def sources_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Builds if the sources changed since the cached build; returns the
    path of a java argument file holding the runtime classpath."""
    argfile = os.path.join(BUILD, "classpath.args")
    stamp = os.path.join(BUILD, "classpath.hash")
    digest = sources_hash()
    if os.path.exists(argfile) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                return argfile
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        opts = (f"-Dsbt.override.build.repos=true "
                f"-Dsbt.repository.config={repos} " + opts)
    env.setdefault("SBT_OPTS", opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out,
                text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 1)
    with open(log, "a") as out:
        out.write(p.stdout)
    cp = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        fail(f"build failed; see {log}", 1)
    with open(argfile, "w") as fh:
        fh.write("-cp\n" + cp[-1].strip() + "\n")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return argfile


def run_jvm(args, log_name):
    """Runs the benchmark JVM; returns (exit code, stdout, log path,
    seconds the JVM ran)."""
    argfile = classpath()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData", "-Duser.timezone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"@{argfile}", "graftbench.Main"] + args)
    log = os.path.join(BUILD, "logs", log_name)
    t0 = time.time()
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}", 1)
    return proc.returncode, out, log, time.time() - t0


def pin():
    """Re-pins each pipeline query's row count and hash, cross-checking
    every query that has DuckDB oracle SQL against the Spark result."""
    import duckdb
    import pandas as pd
    out = os.path.join(BUILD, "pin")
    shutil.rmtree(out, ignore_errors=True)
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    code, _, log, _ = run_jvm(["--pin-out", out, "--work", work], "pin.log")
    if code != 0:
        fail(f"pin run failed; see {log}", 1)
    with open(os.path.join(out, "pins.json")) as fh:
        raw = json.load(fh)
    corpus = os.path.join(work, "corpus_pin")
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{corpus}/{t}.parquet/*.parquet')")

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if df[c].dtype.kind == "f":
                df[c] = df[c].round(6)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    pins = {}
    for q, v in sorted(raw.items()):
        oracle = "none"
        if v.get("oracle_sql"):
            got = canon(pd.read_parquet(os.path.join(out, q)))
            exp = canon(con.execute(v["oracle_sql"]).df())
            same = (list(got.columns) == list(exp.columns) and len(got) == len(exp)
                    and all((got[c].astype(str) == exp[c].astype(str)).all()
                            for c in got.columns))
            if not same:
                fail(f"{q}: Spark result differs from the DuckDB oracle", 1)
            oracle = "duckdb"
        pins[q] = {"query": v["query"], "rows": v["rows"], "hash": v["hash"],
                   "oracle": oracle}
        print(f"{q}: {v['rows']} rows, hash {v['hash']}, oracle {oracle}")
    with open(os.path.join(BENCH, "pins.json"), "w") as fh:
        json.dump({"corpus_seed": 42, "queries": pins}, fh, indent=2)
        fh.write("\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["serve", "pipeline"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) \
            or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("run from the root of a graft checkout (src/main/scala/graft "
             "and build.sbt are missing here)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    if a.pin:
        pin()
        return
    if a.workload is None:
        fail("--workload is required")
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--pins", os.path.join(BENCH, "pins.json"),
            "--benchmark", os.path.join(ROOT, "BENCHMARK.json"),
            "--report", os.path.join(BUILD, "trace",
                                     f"{a.workload}-seed{a.seed}.json")]
    code, out, log, secs = run_jvm(
        args, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    lines = out.splitlines()
    result = lines[-1] if lines and lines[-1].startswith("{") else None
    for line in lines[:-1] if result else lines:
        print(line)
    if result is None:
        fail(f"no result (exit {code}); see {log}", 1)
    print(f"# JVM ran {secs:.1f} s; log {os.path.relpath(log, ROOT)}")
    shutil.rmtree(work, ignore_errors=True)
    print(result)
    sys.exit(0 if code == 0 and json.loads(result)["correct"] else 1)


if __name__ == "__main__":
    main()
