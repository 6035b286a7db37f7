#!/usr/bin/env python3
"""Benchmark of the ingest worker and the LM analytics surface.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest --seed <n>

Workloads: ingest_review, analytics_lm (see METRICS.md).

The first call builds the program from the checkout's sources together with
the harness (sbt, offline) into .bench_build/; later calls reuse the build
while no source file changed. Each call starts one JVM, which sets up,
measures and checks one workload and writes its result; for analytics_lm
this script then compares every timed query's rows with its DuckDB oracle
SQL. The last line printed is one JSON object with the keys correct,
attempted, failed and metrics. --trace 0 reports the end-to-end metrics,
--trace 1 the per-layer ones. A failed check exits non-zero.

--selftest runs ingest_review once untraced and once traced on the same seed
and fails unless both leave identical table contents.
"""
import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("ingest_review", "analytics_lm")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(HERE, "src"), PROGRAM_SRC]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The Spark installation's jars directory: $SPARK_HOME/jars, else the
    first bin/spark-submit on the PATH that has a jars directory beside it."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    fail("Spark jars not found: set SPARK_HOME")


def build():
    """Compiles program + harness once per source fingerprint; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala")):
        fail(f"program sources not found under {os.path.relpath(PROGRAM_SRC, ROOT)}")
    fp = fingerprint()
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "fingerprint.txt")
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as f:
            if f.read().strip() == fp:
                with open(cp_file) as g:
                    return g.read().strip()
    sbt = shutil.which("sbt") or fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g",
            f"-Dperfbench.sparkJars={spark_jars()}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                [sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail("build timed out")
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cps = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(fp_file, "w") as f:
        f.write(fp)
    return cps[-1]


def run_jvm(cp, main, args, run_dir):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else (shutil.which("java") or fail("java not found"))
    cmd = [java] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Xmx4g",
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
        "-Dspark.ui.enabled=false",
        "-cp", cp, main] + args
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log, errors="replace") as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        fail(f"{main} exited with {rc}")


def canon(df):
    df = df[sorted(df.columns)].copy()
    s = df.astype(str)
    return s.sort_values(by=list(s.columns), kind="mergesort").reset_index(drop=True)


def same_cells(a, b):
    """Cells match as strings, or as numbers one unit apart in their last
    (sixth) decimal: the oracle SQL and the engine both round to six
    decimals, and the two engines break an exact half-way tie differently
    (seen on q_kn5_persisted: -1.037619 vs -1.03762)."""
    import pandas as pd
    eq = a == b
    try:
        return eq | ((pd.to_numeric(a) - pd.to_numeric(b)).abs() <= 1.5e-6)
    except (ValueError, TypeError):
        return eq


def oracle_check(run_dir, corpus):
    """Compares each query's collected rows with its DuckDB oracle SQL, as
    the repository's oracle gate does: columns sorted by name, rows sorted,
    cells compared as strings (see same_cells for the one numeric
    allowance). Every query of the workload is checked: one whose rows are
    missing fails. Returns the names that do not match."""
    import duckdb
    import pandas as pd
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{corpus}/*.parquet')")
    bad = []
    for name in sorted(sqls):
        parts = sorted(glob.glob(os.path.join(run_dir, "results", name, "*.parquet")))
        try:
            if not parts:
                raise ValueError("no result rows were written")
            so = canon(con.execute(sqls[name]).df())
            ss = canon(pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True))
            ok = list(so.columns) == list(ss.columns) and len(so) == len(ss)
            if ok:
                for c in so.columns:
                    diff = ~same_cells(so[c], ss[c])
                    if diff.any():
                        i = diff.idxmax()
                        print(f"oracle {name}: col={c} row={i} oracle={so[c][i]!r} spark={ss[c][i]!r}")
                        ok = False
                        break
            else:
                print(f"oracle {name}: columns {list(so.columns)} vs {list(ss.columns)}, "
                      f"rows {len(so)} vs {len(ss)}")
        except Exception as e:  # a broken oracle or missing output is a failure
            print(f"oracle {name}: {e}")
            ok = False
        if not ok:
            bad.append(name)
    return bad


def info(cp):
    commit = "unknown"
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                text=True, timeout=10).stdout.strip() or commit
    except Exception:
        pass
    spark = next((os.path.basename(j) for j in cp.split(os.pathsep)
                  if os.path.basename(j).startswith("spark-core_")), "unknown")
    java = os.environ.get("JAVA_HOME") or shutil.which("java") or "java"
    try:
        jvm = subprocess.run([java if not os.environ.get("JAVA_HOME") else os.path.join(java, "bin", "java"),
                              "-version"], capture_output=True, text=True, timeout=30).stderr.splitlines()[0]
    except Exception:
        jvm = "unknown"
    return {"cpus": os.cpu_count(), "spark_local_cores": max(1, os.cpu_count() - 1), "jvm": jvm, "spark": spark, "git_commit": commit,
            "source_sha256": fingerprint()[:16], "python": platform.python_version()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    cp = build()
    name = "selftest" if a.selftest else a.workload
    run_dir = os.path.join(BUILD, "runs", f"{name}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if a.selftest:
            run_jvm(cp, "perfbench.SelfTest", [str(a.seed), run_dir], run_dir)
            with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
                sys.stdout.writelines(l for l in f if l.startswith("table "))
            print("selftest: traced and untraced runs left identical tables")
            return
        result_file = os.path.join(run_dir, "result.json")
        t_jvm = time.time()
        run_jvm(cp, "perfbench.Main", [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                                       run_dir, result_file], run_dir)
        t_jvm = time.time() - t_jvm
        with open(result_file) as f:
            res = json.load(f)
        t_check = time.time()
        if a.workload == "analytics_lm":
            bad = oracle_check(run_dir, res["corpus"])
            failed = set(res.pop("failed_names")) | set(bad)
            res["failed"] = len(failed)
            res["correct"] = not failed
            res["notes"] += [f"FAIL {n}: oracle mismatch" for n in bad]
        else:
            res.pop("failed_names", None)
        res.pop("corpus", None)
        print(f"wall jvm {t_jvm:.1f} s, oracle {time.time() - t_check:.1f} s")
        for n in res.pop("notes"):
            print(n)
        print("info", json.dumps(info(cp), sort_keys=True))
        print(f"op_failure_ratio {res['failed'] / max(1, res['attempted']):.6f} ratio")
        for k, v in res["metrics"].items():
            print(f"metric {k} {v['value']} {v['unit']}")
        print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
        if not res["correct"]:
            sys.exit(1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
