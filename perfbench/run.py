#!/usr/bin/env python3
"""Benchmark entry point.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt, into
perfbench/target and .bench_build/), runs one workload in a fresh JVM with
its own java.io.tmpdir and spark.local.dir under .bench_build/runs/ (deleted
afterwards), checks the results (warehouse query results against DuckDB
here, every other check inside the JVM) and prints one JSON line as the
last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end_to_end metrics of BENCHMARK.json,
with --trace 1 its per_layer metrics. Exits 1 after printing when any
check failed, and 2 without printing when the benchmark cannot run.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_tables  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["warehouse_sql", "store_mixed"]
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
HEAP = "3g"
# C1 only: in runs this short on 4 cores, C2 compilation competes with the
# work for the cores and never pays back; measured on store_mixed, C1-only
# read 40 % more reads per second with a third of the run-to-run spread.
# With C1 alone the code cache defaults to 48 MB, which a traced run fills
# within 30 s; the JVM then stops compiling and runs the rest interpreted
JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]
# warehouse_sql inputs: TPC-H scale factor (0.01 = 60k lineitem rows) and
# rows of documents / embeddings
WAREHOUSE_SF = 0.01
CORPUS_ROWS = 1000

# JDK 17 module openings Spark needs outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# what each generic metric measures on each workload
ALIASES = {
    "warehouse_sql": {"throughput_per_s": "sql_ops_per_s", "op.p50_ms": "sql_op_p50_ms",
                      "op.aux_ms": "sql_plan_ms"},
    "store_mixed": {"throughput_per_s": "reads_per_s", "op.p50_ms": "lookup_p50_ms",
                    "op.aux_ms": "range_p50_ms"},
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every input of the build: engine and harness sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if "sbt.repository.config" not in opts and os.path.isfile(repos):
        opts += (" -Dsbt.override.build.repos=true"
                 f" -Dsbt.repository.config={repos} -Dsbt.offline=true")
    # sbt's own scratch files stay in the checkout too
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (opts + f" -Dsbt.server.autostart=false -Djava.io.tmpdir={tmp}").strip()
    return env


def classpath():
    """Builds on first use; returns the runtime classpath of the harness."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, f"classpath-{stamp}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log(f"building (source stamp {stamp})")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S, start_new_session=True)
    # `export` prints the classpath as the last line holding jar entries
    cps = [l.strip() for l in proc.stdout.splitlines()
           if os.pathsep in l and ".jar" in l]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:])
        raise RuntimeError(f"build failed (sbt exit {proc.returncode})")
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    return cps[-1]


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def cpu_ticks():
    """(busy, steal) CPU ticks of the machine so far, or None off Linux;
    the same accounting as the harness's Proc.hostTicks."""
    try:
        with open("/proc/stat") as f:
            f = [int(x) for x in f.readline().split()[1:9]]
        return f[0] + f[1] + f[2] + f[5] + f[6], f[7]
    except (OSError, ValueError, IndexError):
        return None


def steal_share(t0, t1):
    """Share of the runnable CPU time between two samples that the
    hypervisor held back for other guests (Proc.stealShare)."""
    if not t0 or not t1:
        return 0.0
    busy, steal = t1[0] - t0[0], t1[1] - t0[1]
    return steal / (busy + steal) if steal > 0 else 0.0


def run_jvm(cp, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = [java_bin(), f"-Xmx{HEAP}"] + JIT + [f"-Djava.io.tmpdir={tmp}",
                                             "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"JVM exceeded {JVM_TIMEOUT_S} s; killing it")
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def canon(df):
    """Columns by name, rows sorted by every column (the oracle's rule)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: bytes(v) if isinstance(v, (bytearray, memoryview)) else v)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True, na_position="first")
    return df.reset_index(drop=True)


def oracle_check(data_dir, verified_dir, queries):
    """Compares each query's written Spark result with DuckDB running the
    query's oracle SQL over the same generated tables; returns the names
    of the queries that differ."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in gen_tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    bad = []
    for q in queries:
        try:
            with open(os.path.join(verified_dir, f"{q}.sql")) as f:
                sql = f.read()
            a = canon(pd.read_parquet(os.path.join(verified_dir, q)))
            b = canon(con.execute(sql).fetchdf())
            ok = list(a.columns) == list(b.columns) and len(a) == len(b)
            for c in (a.columns if ok else []):
                av, bv = a[c], b[c]
                try:
                    eq = (av.values == bv.values) | (av.isna().values & bv.isna().values)
                except Exception:
                    eq = av.astype(str).values == bv.astype(str).values
                if not eq.all():
                    ok = False
                    i = int((~eq).argmax())
                    log(f"oracle: {q} column {c} row {i}: spark={av.iloc[i]!r} "
                        f"duckdb={bv.iloc[i]!r}")
                    break
            if not ok:
                log(f"oracle: {q} differs from DuckDB "
                    f"({len(a)} vs {len(b)} rows, {list(a.columns)} vs {list(b.columns)})")
                bad.append(q)
        except Exception as e:  # an unreadable result is a failed check
            log(f"oracle: {q} could not be checked: {type(e).__name__}: {e}")
            bad.append(q)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no engine sources (src/main/scala) in this checkout; nothing to build")
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]

    try:
        cp = classpath()
    except Exception as e:
        log(f"cannot build: {e}")
        return 2

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        out = os.path.join(run_dir, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", os.path.join(run_dir, "work"), "--out", out]
        if a.trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            args += ["--spans", os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")]
        gen_s = 0.0
        if a.workload == "warehouse_sql":
            t0, ticks0 = time.time(), cpu_ticks()
            gen_tables.write_tables(os.path.join(run_dir, "work", "data"), a.seed,
                                    WAREHOUSE_SF, CORPUS_ROWS)
            # set-up time net of steal, as the harness counts its own
            gen_s = (time.time() - t0) * (1 - steal_share(ticks0, cpu_ticks()))
        ticks0 = cpu_ticks()
        rc = run_jvm(cp, args, run_dir)
        # time the hypervisor gave to other guests stretches every wall
        # timing of the run; logged so noisy runs can be told apart
        log(f"host steal during the run: "
            f"{100.0 * steal_share(ticks0, cpu_ticks()):.1f} % of runnable CPU time")
        if rc != 0 or not os.path.isfile(out):
            log(f"benchmark JVM failed (exit {rc})")
            return 2
        with open(out) as f:
            res = json.load(f)
        attempted, failed = int(res["attempted"]), int(res["failed"])
        if a.workload == "warehouse_sql":
            ex = res["extra"]
            queries = ex["queries"].split(",")
            bad = oracle_check(ex["oracle_dir"], ex["verified_dir"], queries)
            # each oracle check is an operation; a query whose reference
            # result is wrong also fails every timed repetition, since each
            # was checked against that reference
            attempted += len(queries)
            failed += len(bad) + sum(res["samples"].get(q, 0) for q in bad)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    got = res["metrics"]
    if "setup_s" in got:  # table generation is part of set-up
        got["setup_s"] += gen_s
    metrics = {}
    for m in declared:
        v = got.get(m["name"])
        if v is None and not a.trace:
            log(f"metric {m['name']} missing from the run")
            return 2
        v = 0.0 if v is None or (isinstance(v, float) and math.isnan(v)) else float(v)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    names = ALIASES[a.workload]
    for k, v in sorted(got.items()):
        label = names.get(k, k)
        log(f"{a.workload}: {label} = {v}")
    log(f"{a.workload}: attempted {attempted}, failed {failed}, samples {res['samples']}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
