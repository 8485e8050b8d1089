#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one seeded workload per run.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

A run
  1. builds the engine and the runner from source with sbt (first run only;
     later runs reuse the build while no source file changed),
  2. generates the seed's input tables (perfbench/gen.py),
  3. starts one JVM at local[4] that runs the workload's registry queries
     once cold and then pass after pass for `--seconds` (perfbench.Runner);
     every execution writes its result to parquet,
  4. checks every execution's result against the DuckDB oracle
     (`SparkEntry.oracleSql`) on the same inputs, canonicalized exactly as
     tools/check_oracle.py does; expectations are cached per seed,
  5. prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
     `--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
     metrics (engine counters per query, module timings, tracing overhead)
     and writes the span trace to perfbench/.work/<workload>-<seed>/trace.json.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # importing tools/check_oracle.py leaves no cache
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = {
    "timesheet": {
        "queries": ["q01_e1_flagship", "q225_date_cascade"],
        "tables": ["orders"]},
    "graph": {
        "queries": ["q133_pagerank", "q197_hits"],
        "tables": ["orders", "lineitem"]},
}
# DuckDB inlines a plain CTE at every reference; q197's oracle chains 8
# normalized rounds, each referenced by the next one's join and max, so
# inlining grows exponentially (tens of GB of temp space at sf0.1). Its
# CTEs are marked MATERIALIZED, which changes how DuckDB evaluates the
# query, not what it returns.
MATERIALIZE_CTES = {"q197_hits"}
JVM_TIMEOUT_S = 170
HEAP = "3g"
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src"]
# the module opens of the engine build's javaOptions (build.sbt): Spark 4
# on JDK 17 needs them when started outside spark-submit
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + runner once per source state; return the classpath."""
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    # offline: dependencies resolve only from the repositories listed in
    # sbt's default ~/.sbt/repositories and the local caches
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=os.environ.get(
        "SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"))
    log("building engine and runner with sbt")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       capture_output=True, text=True, timeout=880)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and ":" in ln
             and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def java_cmd(cp, work, *args):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
             "-XX:-UsePerfData", *opens,
             f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Runner",
             "--work", work, *args])


def run_jvm(cmd, log_path):
    with open(log_path, "ab") as lf:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=lf,
                             stdin=subprocess.DEVNULL)
        try:
            out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"runner timed out, see {log_path}")
    if p.returncode != 0:
        raise SystemExit(f"runner exited {p.returncode}, see {log_path}")
    return out.decode()


def load_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def expected(co, data_dir, query, sql):
    """Oracle result of `query` on the seed's tables, canonicalized; cached
    per (seed, query, SQL text) because the oracle is far slower than the
    engine."""
    import duckdb
    import pandas as pd
    if query in MATERIALIZE_CTES:
        sql = re.sub(r"(WITH\s+|,\s*)(\w+)\s+AS\s+\(", r"\1\2 AS MATERIALIZED (", sql)
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(data_dir, "expected", f"{query}-{key}.pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    con = duckdb.connect()
    con.sql("SET threads TO 4")
    con.sql(f"SET temp_directory = '{os.path.join(data_dir, 'duckdb_tmp')}'")
    for t in co.TABLES:
        f = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(f):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
    t0 = time.time()
    want = co.canon(con.sql(sql).df())
    log(f"oracle {query}: {time.time() - t0:.1f} s")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    want.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return want


def check(co, result_dir, want):
    """None when the result written to `result_dir` matches `want`, the
    canonical oracle result, else why."""
    import glob
    import pandas as pd
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        return "no result"
    got = co.canon(pd.concat([pd.read_parquet(f) for f in files]))
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    if co.kinds(got) != co.kinds(want):
        return "dtype family mismatch"
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                      check_exact=False, rtol=1e-9, atol=1e-9)
    except AssertionError as e:
        return f"value mismatch: {str(e)[:300]}"
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for rel in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            log(f"{rel} not found: run from the root of a full checkout")
            return 2
    wl = WORKLOADS[a.workload]
    cp = build()

    data_dir = os.path.join(HERE, ".data", f"seed-{a.seed}")
    manifest = gen.generate(data_dir, a.seed)
    rows_in = sum(manifest["tables"][t]["rows"] for t in wl["tables"])
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    jvm_log = os.path.join(work, "jvm.log")
    results_path = os.path.join(work, "results.json")

    run_jvm(java_cmd(cp, work, "--workload", a.workload,
                     "--queries", ",".join(wl["queries"]), "--data", data_dir,
                     "--seconds", str(a.seconds), "--trace", str(a.trace),
                     "--out", results_path), jvm_log)
    with open(results_path) as f:
        r = json.load(f)

    # every execution, of every pass, is checked
    co = load_check_oracle()
    want = {q: expected(co, data_dir, q, r["oracle_sql"][q]) for q in wl["queries"]}
    failed = 0
    for o in r["outputs"]:
        why = o["error"] or check(
            co, os.path.join(work, "results", o["pass"], o["query"]), want[o["query"]])
        if why:
            failed += 1
            log(f"FAIL {o['pass']}/{o['query']}: {why}")
    attempted = len(r["outputs"])
    warm = r["warm_passes"]
    log(f"warm passes: {len(warm)}, the first is warm-up "
        f"({', '.join('%.3f%s' % (p['s'], ' traced' if p['traced'] else '') for p in warm)} s); "
        f"setup: {r['setup_s']:.3f} s; "
        f"rows in: {rows_in}; error_rate: {failed / attempted:.4f}")

    if a.trace == 0:
        metrics = {
            "setup_s": r["setup_s"],
            "cold_pass_s": r["cold_pass_s"],
            "pass_s": r["pass_s"],
            "rows_per_s": rows_in / r["pass_s"],
            "heap_live_mb": r["heap_live_mb"],
            "success_rate": 1.0 - failed / attempted,
        }
    else:
        metrics = {f"query.{k}": v for k, v in r["traced_passes"][-1].items()}
        metrics.update(r["layers"])
        metrics["trace.overhead_s"] = r["trace_overhead_s"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for k, v in metrics.items():
        log(f"{k} = {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
