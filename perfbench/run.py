#!/usr/bin/env python3
"""Benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the engine and the
benchmark from source (sbt, offline) into .bench_build/; later runs reuse
that build while the sources are unchanged. The benchmark itself runs in
one JVM on local[nproc]; its working files go to .bench_work/. For the
catalog queries a run executes, the launcher then checks each result
against the query's DuckDB oracle SQL. The last line of standard output
is the JSON record: {"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "sources.sha256")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build compiles, and of where it lives (the
    exported classpath holds absolute paths)."""
    h = hashlib.sha256(ROOT.encode())
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt unless the last build saw the same sources."""
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                with open(CLASSPATH) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as fh:
        fh.write(cp + "\n")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    return cp


def java_cmd(cp, main, args):
    """The JVM command, with a fresh working directory for its files. The
    heap follows the root build's runner: SPARK_DRIVER_MEM, default 8g."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    opens = [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    heap = os.environ.get("SPARK_DRIVER_MEM", "8g")
    return (["java"] + opens +
            [f"-Xmx{heap}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
             f"-Djava.io.tmpdir={tmp}", "-cp", cp, main] + args)


def run_jvm(cmd, limit):
    """Run the JVM, echo its output, return (rc, stdout lines)."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"run exceeded {limit} s")
    lines = out.splitlines()
    for ln in lines[:-1]:
        print(ln)
    return proc.returncode, lines


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def oracle_mismatch(spec):
    """The catalog check: the query's Spark result against its DuckDB
    oracle SQL over the same tables (columns by name, rows sorted,
    exact non-floats, 1e-9 relative float tolerance). None if equal."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        p = os.path.join(spec["tables"], f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    files = glob.glob(os.path.join(spec["dir"], "*.parquet"))
    got = canon(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
    want = canon(con.execute(spec["sql"]).fetchdf())
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    if len(got) == 0:
        return "empty result"
    for c in got.columns:
        a, b = got[c], want[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(b):
            af = pd.to_numeric(a, errors="coerce").astype(float)
            bf = pd.to_numeric(b, errors="coerce").astype(float)
            ok = ((af - bf).abs() <= 1e-9 * bf.abs().clip(lower=1.0)) | (af.isna() & bf.isna())
        else:
            ok = (a == b) | (a.isna() & b.isna())
        if not ok.all():
            i = (~ok).idxmax()
            return f"col {c} row {i}: spark={a[i]!r} duckdb={b[i]!r}"
    return None


def check_catalog(record):
    specs = sorted(glob.glob(os.path.join(WORK, "catalog", "*.json")))
    for path in specs:
        with open(path) as fh:
            spec = json.load(fh)
        try:
            bad = oracle_mismatch(spec)
        except Exception as e:  # the oracle itself failed: a failed check
            bad = f"oracle error: {e}"
        if bad:
            print(f"[perfbench] FAILED: {spec['query']} vs DuckDB oracle: {bad}",
                  file=sys.stderr)
            record["failed"] = min(record["failed"] + 1, record["attempted"])
            record["correct"] = False
        else:
            print(f"[perfbench] oracle {spec['query']} ok")
    return record


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources here (build.sbt, src/main/scala); "
             "run from the root of a full checkout")
    if not a.selftest and not a.workload:
        fail("--workload is required")
    cp = build()
    if a.selftest:
        rc, lines = run_jvm(java_cmd(cp, "perfbench.SelfTest", []), RUN_LIMIT_S)
        if lines:
            print(lines[-1])
        sys.exit(rc)
    rc, lines = run_jvm(java_cmd(cp, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", WORK]), RUN_LIMIT_S)
    if rc != 0 or not lines:
        fail(f"benchmark exited with code {rc}")
    try:
        record = json.loads(lines[-1])
    except ValueError:
        fail(f"no result record: {lines[-1][:200]}")
    print(json.dumps(check_catalog(record), separators=(",", ":")))


if __name__ == "__main__":
    main()
