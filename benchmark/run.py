#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

Usage (from the repository root):
  python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                           [--size full|smoke]

Builds the engine and the harness from source with sbt (again only when a
source or build file changed),
generates the workload's inputs from the seed (cached by kind, size and
seed under benchmark/.work/data), runs one JVM that sets up, measures for
--seconds and checks every output, and prints as its last stdout line:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones (see
README.md). The line before it holds run details: sizes, cpus, heap,
clients, sample counts and the per-format serving latencies. The exit code
is 0 only when every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
sys.path.insert(0, BENCH)
import gen  # noqa: E402

WORKLOADS = {"ates_serve": "ates", "corpus_curate": "corpus", "tpch_analytic": "tpch"}
E2E_UNITS = {"setup_s": "s", "op_p50_ms": "ms", "ops_per_s": "1/s", "rss_peak_mb": "MB"}
# Fixed heap and young generation, so peak RSS tracks retained memory
# rather than the collector's adaptive sizing.
HEAP, YOUNG = "3g", "1g"
DATA_SETS_KEPT = 3  # per kind and size; older generated inputs are evicted
RUN_LIMIT_S = 170   # the whole run, build excluded


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def layer_unit(name):
    """Unit of a per-layer metric, from its name's suffix."""
    if "_ms" in name:
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_ratio", "_recall", "_per_kml_byte", "_per_row_returned")):
        return "ratio"
    return "B" if "bytes" in name else "count"


def sources_digest():
    """Digest of every input of the build: engine and harness sources."""
    paths = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, dirs, files in os.walk(base):
            paths += [os.path.join(d, f) for f in files]
    for base in (ROOT, BENCH):  # build definitions, not sbt's own output
        paths.append(os.path.join(base, "build.sbt"))
        proj = os.path.join(base, "project")
        if os.path.isdir(proj):
            paths += [os.path.join(proj, f) for f in os.listdir(proj)
                      if os.path.isfile(os.path.join(proj, f))]
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("engine sources not found next to the benchmark")
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read()
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=840)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit(f"sbt build failed (exit {out.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def data_set(kind, size, seed):
    """Generated inputs for (kind, size, seed), cached; generation time is
    outside every timed window."""
    root = os.path.join(WORK, "data")
    os.makedirs(root, exist_ok=True)
    with open(os.path.join(BENCH, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]  # a generator change regenerates
    out = os.path.join(root, f"{kind}-{size}-s{seed}-{version}")
    gen.generate(kind, seed, size, out)
    os.utime(out)
    cached = sorted((os.path.join(root, d) for d in os.listdir(root)
                     if d.startswith(f"{kind}-{size}-") and not d.endswith(".tmp")),
                    key=os.path.getmtime, reverse=True)
    for old in cached[DATA_SETS_KEPT:]:
        shutil.rmtree(old, ignore_errors=True)
    return out


JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_jvm(cp, args, data, run_dir, cpus, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
              "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "bench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--work", run_dir, "--cpus", str(cpus), "--heap", HEAP,
              "--out", out])
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep scratch space here too
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("benchmark JVM timed out")
    result = json.load(open(out)) if os.path.exists(out) else {}
    if code != 0 or "error" in result:
        raise SystemExit(f"benchmark JVM failed (exit {code}): {result.get('error')}")
    return result


def norm(rows):
    return sorted(tuple(repr(v) for v in r) for r in rows)


def oracle_failures(data, run_dir, runs_per_query):
    """Compares each query's saved Spark rows with DuckDB running the
    query's oracle SQL over the same parquet files (columns by name, rows
    sorted, exact value equality). A mismatching query fails every one of
    its runs: every later run returned the rows of the first."""
    res = os.path.join(run_dir, "tpch-results")
    oracle = json.load(open(os.path.join(res, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{os.path.join(run_dir, 'tmp')}'")
    for f in os.listdir(data):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data}/{f}')")
    failed = 0
    for q, sql in sorted(oracle.items()):
        want = con.execute(sql).fetch_arrow_table().to_pandas()
        got = con.execute(
            f"SELECT * FROM read_parquet('{res}/{q}/*.parquet')").fetch_arrow_table().to_pandas()
        cols = sorted(want.columns)
        if cols != sorted(got.columns) or norm(want[cols].itertuples(index=False)) != \
                norm(got[cols].itertuples(index=False)):
            log(f"check failed: {q} differs from the DuckDB oracle "
                f"({len(got)} rows vs {len(want)})")
            failed += runs_per_query
    return failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args()

    os.makedirs(WORK, exist_ok=True)
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    data = data_set(WORKLOADS[args.workload], args.size, args.seed)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cpus = len(os.sched_getaffinity(0))
    result = run_jvm(cp, args, data, run_dir, cpus, deadline)

    failed = result["failed"]
    if args.workload == "tpch_analytic":  # every pass runs each query once
        failed += oracle_failures(data, run_dir, result["attempted"] // 22)
    with open(os.path.join(data, "expected.json")) as f:
        detail = dict(result["detail"], input_bytes=json.load(f)["bytes"])
    if args.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in result["layers"].items()}
    else:
        metrics = {k: {"value": result["e2e"][k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": result["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
