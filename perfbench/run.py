#!/usr/bin/env python3
"""Repository benchmark: one workload, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the benchmark package
(perfbench/build.sbt, which compiles the library sources with it) and writes
the registry tables; both are kept under .bench_build/perfbench/. The run
launches one JVM (perfbench.Main), checks registry results against the
DuckDB oracle, prints a report line, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones of a traced pass, and the span tree is written to
.bench_build/perfbench/runs/<workload>-<seed>-trace/trace.json.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["registry", "stock"]
TABLES_SF, TABLES_SEED = 0.01, 42
JVM_LIMIT_S = 150
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source():
    pats = [os.path.join(ROOT, "src", "main", "**", "*"),
            os.path.join(BENCH, "src", "main", "**", "*"),
            os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project", "build.properties")]
    return max(os.path.getmtime(f) for p in pats for f in glob.glob(p, recursive=True)
               if os.path.isfile(f))


def build():
    """Compile the benchmark package once per source state; return its classpath."""
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.getmtime(stamp) >= newest_source():
        return open(stamp).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=840)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def ensure_tables():
    out = os.path.join(BUILD, f"tables-sf{TABLES_SF}-seed{TABLES_SEED}")
    if not os.path.exists(os.path.join(out, "DONE")):
        sys.path.insert(0, BENCH)
        import tables
        shutil.rmtree(out, ignore_errors=True)
        n = tables.write(out, TABLES_SF, TABLES_SEED)
        with open(os.path.join(out, "DONE"), "w") as f:
            f.write(f"{n}\n")
    return out


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def table_hash(df):
    h = hashlib.sha256()
    for col in df.columns:
        h.update(col.encode())
        for v in df[col]:
            h.update(repr(v).encode() if isinstance(v, float) else str(v).encode())
    return h.hexdigest()


def oracle_check(work, tables_dir):
    """Names of registry queries whose first-pass result differs from the
    DuckDB oracle (same canonical form and hash as scripts/check_oracle.py)."""
    path = os.path.join(work, "oracle_sql.json")
    if not os.path.exists(path):
        return []
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb-tmp')}'")
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    bad = []
    for name, sql in sorted(json.load(open(path)).items()):
        try:
            g = canon(pd.read_parquet(os.path.join(work, "results", name)))
            e = canon(con.execute(sql).fetchdf())
            why = (f"columns {list(g.columns)} vs {list(e.columns)}" if list(g.columns) != list(e.columns)
                   else f"rows {len(g)} vs {len(e)}" if len(g) != len(e)
                   else "hash mismatch" if table_hash(g) != table_hash(e) else None)
        except Exception as ex:  # a failed read or oracle query is a failed check
            why = f"{type(ex).__name__}: {ex}"
        if why:
            print(f"perfbench: oracle mismatch {name}: {why}", file=sys.stderr)
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("library sources (src/main/scala) not found next to perfbench/")
    cp = build()
    tables_dir = ensure_tables()
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{'trace' if a.trace else 'e2e'}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--tables", tables_dir])
    t0 = time.time()
    proc = subprocess.Popen(cmd + ["--launched-ms", repr(t0 * 1000)], cwd=ROOT,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=JVM_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"{a.workload} did not finish within {JVM_LIMIT_S}s")
    result_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        fail(f"benchmark JVM exited with code {rc}")
    res = json.load(open(result_path))
    c0 = time.time()
    mismatched = oracle_check(work, tables_dir)
    check_s = time.time() - c0
    failed_ops = sorted(set(res["failed_ops"]) | set(mismatched))
    failed = res["failed"] + sum(res["op_counts"].get(n, 1) for n in mismatched
                                 if n not in res["failed_ops"])
    metrics = res["metrics"]
    if a.trace:
        metrics["bench.check_s"]["value"] += check_s
    info = " ".join(f"{k}={v}" for k, v in sorted(res["info"].items()))
    print(f"perfbench workload={a.workload} seed={a.seed} trace={a.trace} "
          f"failed_frac={failed / max(1, res['attempted']):.4f} failed_ops={json.dumps(failed_ops)} "
          f"{info}")
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
