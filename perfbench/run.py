#!/usr/bin/env python3
"""Repository benchmark: one workload run of the graft engine.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: lake_queries, index_ingest, index_serve, daily_pipeline (see
perfbench/README.md). The first run in a checkout compiles the engine's
sources together with the harness (perfbench/build.sbt) and caches the
classpath under .bench_build/; later runs start the JVM directly.

The last stdout line is the result:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1). The line before it is a summary (seed, input sizes, nproc,
JVM and Spark versions, workload-specific results). Exit code 0 only when
every output check passed.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
OUT = os.path.join(ROOT, ".bench_out")
WORKLOADS = ("lake_queries", "index_ingest", "index_serve", "daily_pipeline")
LAKE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]
RUN_LIMIT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(BENCH, "src/**/*.scala"), recursive=True)
                   + [os.path.join(BENCH, "build.sbt"),
                      os.path.join(BENCH, "project/build.properties")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The Spark distribution's jars dir: $SPARK_HOME/jars, else the first
    one next to a spark-submit on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("Spark jars not found: set SPARK_HOME")


def build():
    """Compile once per source tree; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Dperfbench.sparkJars={spark_jars()}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the engine + harness (first run in this checkout)")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840, start_new_session=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args, run_dir, spans, limit_s):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:MetaspaceSize=256m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--out", run_dir, "--spans", spans])
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def canon(rows, cols):
    """Sorted rows over name-sorted columns, floats rounded (the oracle
    gate's normal form)."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if v is None:
            return ("null",)
        if isinstance(v, float):
            return ("nan",) if math.isnan(v) else ("f", round(v, 9))
        return (type(v).__name__[:1], str(v))

    return sorted(tuple(norm(r[i]) for i in idx) for r in rows)


def oracle_check(manifest_path):
    """Each lake query's warm-up result vs its DuckDB oracle."""
    import duckdb
    with open(manifest_path) as f:
        man = json.load(f)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar=false")
    con.execute("SET threads=4")
    for t in LAKE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{man['data_dir']}/{t}.parquet'")
    errors, rows, oracle_rows = [], {}, {}
    for q in man["queries"]:
        try:
            got = con.sql(f"SELECT * FROM '{q['out']}/*.parquet'")
            gcols, grows = list(got.columns), got.fetchall()
            if q["sql"] not in oracle_rows:  # queries may share one oracle
                want = con.sql(q["sql"])
                oracle_rows[q["sql"]] = (list(want.columns), want.fetchall())
            wcols, wrows = oracle_rows[q["sql"]]
        except Exception as e:  # a failed query or oracle is a failed check
            errors.append(f"{q['name']}: {str(e)[:200]}")
            continue
        if sorted(gcols) != sorted(wcols):
            errors.append(f"{q['name']}: columns {sorted(gcols)} vs oracle {sorted(wcols)}")
        elif canon(grows, gcols) != canon(wrows, wcols):
            errors.append(f"{q['name']}: {len(grows)} rows differ from the oracle's {len(wrows)}")
        rows[q["name"]] = len(grows)
    return errors, rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("engine sources (src/main/scala/graft) not found: run from the root of a checkout")
        return 2
    cp = build()
    run_dir = os.path.join(OUT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spans = os.path.join(OUT, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    try:
        limit = max(60.0, RUN_LIMIT_S - (time.time() - t0))
        code = run_jvm(cp, args, run_dir, spans, limit)
        result_path = os.path.join(run_dir, "result.json")
        if code != 0 or not os.path.exists(result_path):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            log(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}")
            return 1
        with open(result_path) as f:
            res = json.load(f)
        errors = list(res["errors"])
        summary = res["summary"]
        manifest = os.path.join(run_dir, "oracle.json")
        if args.workload == "lake_queries" and os.path.exists(manifest):
            t_or = time.time()
            oerr, orows = oracle_check(manifest)
            errors += oerr
            summary["oracle_checked"] = len(orows)
            summary["oracle_s"] = time.time() - t_or
        correct = not errors and res["failed"] == 0
        summary["runner_s"] = time.time() - t0
        for e in errors:
            log(f"CHECK FAILED: {e}")
        summary["errors"] = errors
        print(json.dumps({"summary": summary}))
        print(json.dumps({"correct": correct, "attempted": max(1, res["attempted"]),
                          "failed": res["failed"], "metrics": res["metrics"]}))
        return 0 if correct else 1
    finally:
        # The run dir is left in place: deleting thousands of small files on
        # a disk with online discard stalls I/O for seconds. The JVM's own
        # exit-time deletes (Spark's local dir) are flushed here, so their
        # I/O does not land in the next run's timings.
        os.sync()


if __name__ == "__main__":
    sys.exit(main())
