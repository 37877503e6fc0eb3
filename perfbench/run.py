#!/usr/bin/env python3
"""Closed-loop benchmark of graft: one SparkSession, one client.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 3 --trace 0

Run from the repository root. The first call builds graft and the
harness (perfbench/build.sbt, with sbt, offline) into .bench_build/,
which is reused while the sources are unchanged. The inputs are the
project's sf0.01 harness tables, kept in perfbench/data/sf0.01. Each call
then launches one JVM (graftbench.Main) that sets up, warms up, runs two
or more timed passes for at least --seconds, and writes every query's
result; this script compares those results with the DuckDB oracle,
prints a box record and a repeatability report, and ends with one JSON
line:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and writes the run's spans). The exit code is 0 only when no query threw
and every result matched its oracle. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("tpch", "iterative", "dialect")
# the tables are fixed; --seed permutes the query order
DATA = os.path.join(HERE, "data", "sf0.01")
JVM_LIMIT_S = 150  # a run (after any build) must end within 180 s
MAX_CORES = 4

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


# ---- build ----------------------------------------------------------------

def source_digest():
    """Digest of everything the harness is compiled from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(digest):
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "classpath.digest")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building graft and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true"
                           f" -Dsbt.repository.config={repos}")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    sbt_dir = os.path.join(BUILD, "sbt")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={sbt_dir}/global",
           f"-Dsbt.boot.directory={sbt_dir}/boot",
           "compile", "writeClasspath"]
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0 or not os.path.exists(cp_file):
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    with open(cp_file) as g:
        return g.read().strip()


# ---- run -----------------------------------------------------------------

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def launch(cp, args, run_dir, deadline):
    """Runs the harness JVM; returns (exit code, seconds it took)."""
    tmp = os.path.join(run_dir, "tmp")
    work = os.path.join(run_dir, "work")
    os.makedirs(tmp)
    os.makedirs(work)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    # a fixed heap and young generation keep the peak RSS from following
    # the collector's adaptive resizing from run to run
    cmd = [java, "-Xms3g", "-Xmx3g", "-Xmn768m", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy",
           f"-XX:ParallelGCThreads={args.cores}",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.warehouse.dir={work}/spark-warehouse",
           f"-Dspark.local.dir={tmp}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    launch_ms = int(time.time() * 1000)
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", args.data, "--out", run_dir, "--cores", str(args.cores),
            "--launch-ms", str(launch_ms), "--inject", args.inject]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(args.cores))
    t0 = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    return code, time.time() - t0


# ---- oracle check (same compare as tools/check.py) -----------------------

def cell_str(v):
    import numpy as np
    if v is None:
        return "<null>"
    if isinstance(v, np.ndarray):
        v = v.tolist()
    if isinstance(v, (list, tuple, dict)):
        try:
            return json.dumps(v, sort_keys=True, default=str)
        except Exception:
            return str(v)
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, (int, np.bool_, bool)):
        return str(v)
    try:
        if v != v:
            return "<null>"
    except Exception:
        pass
    return str(v)


def canon(df):
    df = df[sorted(df.columns)]
    sdf = df.map(cell_str) if hasattr(df, "map") else df.applymap(cell_str)
    order = sdf.sort_values(by=list(sdf.columns)).index
    return sdf.loc[order].reset_index(drop=True)


def oracle_check(record, run_dir, data):
    """Names of the queries whose result differs from the DuckDB oracle
    (or that have no oracle, or no result)."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    wrong = []
    checked = set(record["checked"])
    for name in record["queries"]:
        sql = record["oracle"].get(name)
        if sql is None or name not in checked:
            log(f"WRONG {name}: {'no oracle' if sql is None else 'no result'}")
            wrong.append(name)
            continue
        got = canon(pd.read_parquet(os.path.join(run_dir, "check", name)))
        exp = canon(con.execute(sql).df())
        if list(got.columns) != list(exp.columns) or len(got) != len(exp) \
                or not (got.values == exp.values).all():
            log(f"WRONG {name}: {len(got)} rows vs oracle {len(exp)}")
            wrong.append(name)
    con.close()
    return wrong


# ---- metrics --------------------------------------------------------------

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "query_p50_ms": "ms",
             "query_max_ms": "ms", "ok_frac": "frac", "match_frac": "frac",
             "peak_rss_mb": "MB"}

LAYER_UNITS = {
    "setup.launch_ms": "ms", "setup.warmup_s": "s",
    "session.start_ms": "ms", "session.functions_ms": "ms",
    "tables.register_ms": "ms", "tables.schema_jobs": "count",
    "queries.prepare_ms": "ms", "queries.reset_ms": "ms",
    "queries.build_ms": "ms", "queries.execute_ms": "ms",
    "queries.build_jobs": "count", "queries.build_self_ms": "ms",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms", "plan.executions": "count",
    "plan.broadcasts": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.job_ms": "ms", "sched.idle_ms": "ms", "sched.task_wait_ms": "ms",
    "exec.task_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.busy_frac": "frac", "exec.input_bytes": "B",
    "exec.shuffle_read_bytes": "B", "exec.shuffle_write_bytes": "B",
    "exec.spill_bytes": "B", "exec.output_bytes": "B",
    "exec.output_rows": "count",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "codegen.setup_compiles": "count",
    "caches.release_ms": "ms", "driver.gc_ms": "ms",
    "driver.heap_live_mb": "MB", "trace.pass_s": "s",
    "trace.overhead_frac": "frac"}


def timed_passes(record):
    ps = [p for p in record["passes"] if not p["failed"]]
    untraced = [p for p in ps if not p["traced"]]
    return ps, untraced


def end_to_end(record, wrong):
    _, untraced = timed_passes(record)
    lat = {}
    for p in untraced:
        for q in p["queries"]:
            lat.setdefault(q["name"], []).append(q["build_ms"] + q["execute_ms"])
    all_lat = [x for xs in lat.values() for x in xs]
    attempted, failed = timed_attempts(record)
    n = len(record["queries"])
    return {
        "setup_s": record["setup_s"],
        "pass_s": median([p["pass_ms"] / 1000.0 for p in untraced]),
        "query_p50_ms": median(all_lat),
        "query_max_ms": max((median(xs) for xs in lat.values()),
                            default=float("nan")),
        "ok_frac": 1.0 - failed / attempted,
        "match_frac": (n - len(wrong)) / n,
        "peak_rss_mb": record["peak_rss_mb"],
    }


def per_layer(record):
    ps, untraced = timed_passes(record)
    traced = [p for p in ps if p["traced"]]
    setup = record["setup"]
    m = {
        "setup.launch_ms": setup["launch_ms"],
        "session.start_ms": setup["session_ms"],
        "session.functions_ms": setup["functions_ms"],
        "tables.register_ms": setup["tables_ms"],
        "tables.schema_jobs": setup["schema_jobs"],
        "queries.prepare_ms": setup["prepare_ms"],
        "codegen.setup_compiles": setup["codegen_compiles"],
        "setup.warmup_s": setup["warmup_s"],
        "queries.reset_ms": median([p["reset_ms"] for p in traced]),
    }
    for k in LAYER_UNITS:
        if k not in m and traced and k in traced[0].get("layers", {}):
            m[k] = median([p["layers"][k] for p in traced])
    m["trace.pass_s"] = median([p["pass_ms"] / 1000.0 for p in traced])
    # each traced pass against the mean of the untraced passes around it
    by_index = {p["pass"]: p for p in ps}
    ratios = [p["pass_ms"] / statistics.mean([by_index[i]["pass_ms"]
                                              for i in (p["pass"] - 1,
                                                        p["pass"] + 1)])
              for p in traced
              if all(i in by_index and not by_index[i]["traced"]
                     for i in (p["pass"] - 1, p["pass"] + 1))]
    m["trace.overhead_frac"] = median(ratios) - 1.0
    return m


def timed_attempts(record):
    """(attempted, failed) query executions of the timed passes."""
    timed = [f for f in record["failures"] if f["pass"].startswith("pass")]
    done = sum(len(p["queries"]) for p in record["passes"])
    return done + len(timed), len(timed)


# ---- reports ---------------------------------------------------------------

def cpu_jiffies():
    """(steal, total) jiffies of all CPUs so far, from /proc/stat. Steal is
    time the host gave this machine's CPUs to others: a loaded host, which
    the load average inside the machine does not show."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return None


def box_record(args, record, digest, steal_frac):
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True)
        commit = r.stdout.strip() or None
    box = dict(record["box"])
    box.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "git_commit": commit, "source_digest": digest[:16],
        "cpu_steal_frac": steal_frac,
        "loadavg_per_pass": [[p["load_before"], p["load_after"]]
                             for p in record["passes"]]})
    return box


def repeatability(record):
    """Per-pass counts and flags: counts that should repeat exactly,
    untraced pass times that still fall (warm-up too short), and live-heap
    growth that would mean state leaking across queries."""
    rows, flags = [], []
    keys = ["sched.jobs", "sched.tasks", "exec.input_bytes",
            "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
            "exec.spill_bytes", "exec.output_bytes"]
    for p in record["passes"]:
        row = {"pass": p["pass"], "traced": p["traced"],
               "pass_s": round(p["pass_ms"] / 1000.0, 3),
               "heap_live_mb": round(p["heap_live_mb"], 1)}
        for k in keys:
            if "layers" in p:
                row[k] = p["layers"][k]
        rows.append(row)
    traced = [r for r in rows if r["traced"]]
    for k in keys:
        vals = [r[k] for r in traced]
        # counts must repeat exactly; compressed byte counts may move a
        # little with the order rows reach a shuffle block
        tol = 0.0 if k.startswith("sched.") else 0.01
        if vals and max(vals) - min(vals) > tol * max(vals):
            flags.append(f"{k} drifts across passes: {vals}")
    times = [r["pass_s"] for r in rows if not r["traced"]]
    if len(times) >= 2 and all(b < a for a, b in zip(times, times[1:])) \
            and times[-1] < 0.9 * times[0]:
        flags.append(f"untraced pass_s falls every pass: {times}")
    heap = [r["heap_live_mb"] for r in rows]
    if len(heap) >= 3 and all(b > a for a, b in zip(heap, heap[1:])) \
            and heap[-1] - heap[0] > max(16.0, 0.1 * heap[0]):
        flags.append(f"driver.heap_live_mb grows every pass: {heap}")
    return {"passes": rows, "flags": flags}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("none", "throw", "wrong"),
                    default="none",
                    help="self-test: add a throwing query, or make the "
                         "first query return one extra row")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"graft sources not found under {ROOT}/src; run from a checkout")
        return 2
    digest = source_digest()
    cp = build(digest)
    args.data = DATA
    args.cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))

    runs = os.path.join(BUILD, "runs")
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    run_dir = os.path.join(runs, name)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cpu0 = cpu_jiffies()
    code, jvm_s = launch(cp, args, run_dir, time.time() + JVM_LIMIT_S)
    cpu1 = cpu_jiffies()
    rec_path = os.path.join(run_dir, "run.json")
    if not os.path.exists(rec_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        log(f"harness exited {code} without a record")
        return 3
    with open(rec_path) as f:
        record = json.load(f)
    wrong = oracle_check(record, run_dir, args.data)
    for f in record["failures"]:
        log(f"FAILED {f['pass']} {f['query']} ({f['stage']}): {f['error']}")
    if code not in (0, 1):
        log(f"harness exited {code}")

    steal = None
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        steal = (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
    box = box_record(args, record, digest, steal)
    rep = repeatability(record)
    print(json.dumps({"box": box}))
    print(json.dumps({"repeatability": rep}))
    for fl in rep["flags"]:
        log(f"FLAG {fl}")

    # one check per workload query, one attempt per timed execution
    attempted, failed = timed_attempts(record)
    attempted += len(record["queries"])
    failed += len(wrong)
    correct = not wrong and not record["failures"] and code == 0
    if args.trace:
        values, units = per_layer(record), LAYER_UNITS
        spans = os.path.join(run_dir, "spans.jsonl")
        log(f"spans: {spans}; tracing overhead "
            f"{values['trace.overhead_frac']:+.3f} of untraced pass_s")
    else:
        values, units = end_to_end(record, wrong), E2E_UNITS
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump({"box": box, "repeatability": rep, "wrong": wrong,
                   "metrics": values, "jvm_s": jvm_s}, f)
    # keep the record and spans; drop fixtures and result files
    for d in ("tmp", "work", "check"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units
               if k in values and math.isfinite(values[k])}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
