#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload olap|graph|stream \
        --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds the harness
and graft from source (sbt, into .bench_build/). Each run then

  1. generates the workload's input tables from the seed (cached per
     seed under .bench_build/data/),
  2. starts fresh JVMs, each with its own working directory, temp dir,
     spark-warehouse and SPARK_LOCAL_DIRS under .bench_build/runs/
     (removed afterwards): set-up only, then the measured run,
  3. checks every result: graft results against DuckDB answers (cached
     per SQL text and input under .bench_build/oracle/), stream outputs
     against the same cores run as one batch,
  4. prints a detail line, then as the last line one JSON object with
     `correct`, `attempted`, `failed` and `metrics`: the end-to-end
     metrics with --trace 0, the per-layer metrics with --trace 1.

See perfbench/README.md for the workloads and the metrics.
"""
import argparse
import hashlib
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ next to gen.py or tools/compare.py

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
DEADLINE_S = 170          # every run must be over well within 180 s
XMX = "2g"
# A fixed heap with fixed generation sizes: the young generation is touched
# whole after its first collection and the old generation is compacted, so
# peak RSS tracks the old generation's high-water mark instead of where a
# region-based collector happened to allocate.
GC = ["-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-XX:MetaspaceSize=256m", "-Xlog:gc"]

# Input profile per workload: scale factor of the star schema and events,
# and an extra multiplier for the documents and embeddings tables.
PROFILES = {
    "olap": {"sf": 0.01, "text_mult": 1},
    "graph": {"sf": 0.001, "text_mult": 40},
    "stream": None,       # the stream workload generates its events in the JVM
}
END_TO_END = {"setup_s": "s", "pass_s": "s", "query_p50_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "operators.build_s": "s", "operators.eager_jobs": "count",
    "spark.plan.plan_s": "s",
    "spark.exec.run_s": "s", "spark.exec.jobs": "count", "spark.exec.stages": "count",
    "spark.exec.tasks": "count", "spark.exec.task_s": "s", "spark.exec.cpu_s": "s",
    "spark.exec.gc_s": "s", "spark.exec.core_util": "ratio",
    "spark.exec.shuffle_write_mb": "MB", "spark.exec.shuffle_read_mb": "MB",
    "spark.exec.spill_mb": "MB", "spark.exec.failed_tasks": "count",
    "sources.input_mb": "MB", "sources.input_rows": "count",
    "api.memo.tracked": "count", "api.memo.release_s": "s",
    "api.memo.block_mb_peak": "MB", "api.pairs.yield": "ratio",
    "functions.codegen_fallbacks": "count",
    "streaming.batch_p50_s": "s", "streaming.batches": "count",
    "streaming.commit_s": "s", "streaming.state_rows": "count",
    "streaming.state_mb": "MB", "streaming.late_rows": "count",
    "streaming.backlog_rows_max": "count", "gen.lag_s": "s",
    "stream_sustained_eps": "events/s", "stream_lat_p50_s": "s",
    "stream_lat_p95_s": "s",
    "trace.overhead_s": "s", "trace.coverage": "ratio",
}
ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]

T0 = time.time()


def log(msg):
    print(f"[perfbench {time.time() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def remaining():
    return DEADLINE_S - (time.time() - T0)


# --------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp \
            and os.path.isdir(CLASSES):
        return
    log("building graft and the harness (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run(["sbt", "-batch", "compile"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=880)
    if r.returncode != 0:
        fail("sbt compile failed", 1)
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


# ---------------------------------------------------------------- data

def data_dir(workload, seed):
    prof = PROFILES[workload]
    if prof is None:
        return None
    key = f"sf{prof['sf']}-x{prof['text_mult']}-s{seed}"
    d = os.path.join(BUILD, "data", key)
    if not os.path.exists(os.path.join(d, ".done")):
        sys.path.insert(0, HERE)
        import gen
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(d, prof["sf"], prof["text_mult"], seed)
        open(os.path.join(d, ".done"), "w").close()
        # keep the cache bounded: the 8 most recent input sets
        sets = sorted((os.path.join(BUILD, "data", x) for x in os.listdir(os.path.join(BUILD, "data"))),
                      key=os.path.getmtime)
        for old in sets[:-8]:
            shutil.rmtree(old, ignore_errors=True)
    return d


# ----------------------------------------------------------------- jvm

def host_info(seed):
    mem_kb = None
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024 if mem_kb else None,
            "scratch_free_mb": shutil.disk_usage(BUILD).free // 2**20, "xmx": XMX,
            "commit": commit, "seed": seed}


def run_jvm(tag, workload, seed, seconds, trace, data):
    """One isolated JVM; returns (launch epoch seconds, result dict, run dir)."""
    run_dir = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}-{time.time_ns()}")
    dirs = {k: os.path.join(run_dir, k) for k in ("work", "tmp", "local", "warehouse", "out")}
    for d in dirs.values():
        os.makedirs(d)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cp = os.pathsep.join([CLASSES, os.path.join(os.environ["SPARK_HOME"], "jars", "*")])
    cmd = [java, f"-Xms{XMX}", f"-Xmx{XMX}", *GC, *ADD_OPENS,
           f"-Djava.io.tmpdir={dirs['tmp']}",
           f"-Dspark.local.dir={dirs['local']}",
           f"-Dspark.sql.warehouse.dir={dirs['warehouse']}",
           "-cp", cp, "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--cores", str(len(os.sched_getaffinity(0))),
           "--data", data or "", "--out", dirs["out"]]
    env = dict(os.environ, SPARK_LOCAL_DIRS=dirs["local"])
    log_path = os.path.join(BUILD, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    with open(log_path, "w") as logf:
        t_launch = time.time()
        p = subprocess.Popen(cmd, cwd=dirs["work"], env=env, stdout=logf, stderr=logf)
        try:
            p.wait(timeout=max(5, remaining()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            fail(f"{tag}: JVM did not finish in time (log: {log_path})", 1)
    res_path = os.path.join(dirs["out"], "result.json")
    if p.returncode != 0 or not os.path.exists(res_path):
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"{tag}: JVM exited with {p.returncode} (log: {log_path})", 1)
    with open(res_path) as fh:
        return t_launch, json.load(fh), run_dir


def setup_seconds(t_launch, res):
    return res["setup_done_us"] / 1e6 - t_launch - res["setup_excluded_s"]


# -------------------------------------------------------------- oracle

def oracle_check(checks, data, data_key):
    """Compare each dumped result with DuckDB; returns {entry: error or None}."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import compare  # the repo's own oracle normalisation, used as is

    cache = os.path.join(BUILD, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")

    def answer(sql):
        key = hashlib.sha256((data_key + "\0" + sql).encode()).hexdigest()
        path = os.path.join(cache, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        ans = compare.norm(cur.fetchall(), cols)
        with open(path, "wb") as fh:
            pickle.dump(ans, fh)
        return ans

    out = {}
    for name, c in checks.items():
        try:
            if "error" in c:
                out[name] = c["error"]
            elif not c["plan_ok"]:
                out[name] = f"timed action lost plan nodes: {c['plan_lost']}"
            elif c.get("oracle_sql"):
                dump = os.path.join(c["dump"], "*.parquet")
                got = con.execute(f"SELECT * FROM '{dump}'")
                g = compare.norm(got.fetchall(), [d[0] for d in got.description])
                e = answer(c["oracle_sql"])
                sm = compare.schema_mismatch(con, dump, c["oracle_sql"])
                if sm:
                    out[name] = f"schema types: {sm}"
                elif g[0] != e[0]:
                    out[name] = f"columns {g[0]} vs {e[0]}"
                elif g[1] != e[1]:
                    out[name] = f"{len(g[1])} vs {len(e[1])} rows"
                else:
                    out[name] = None
            else:
                expected = answer(c["rows_sql"])[1][0][0]
                out[name] = None if c["rows"] == expected else \
                    f"rows-only: {c['rows']} vs expected {expected}"
        except Exception as ex:  # an oracle that cannot run counts as a failure
            out[name] = f"oracle: {str(ex)[:300]}"
    return out


# ------------------------------------------------------------- metrics

def batch_outcome(res, oracle):
    runs = res["queries"]
    bad = {n for n, err in oracle.items() if err}
    failures = {n: err for n, err in oracle.items() if err}
    failed = 0
    for q in runs:
        if q["error"] or q["mismatch"] or q["name"] in bad:
            failed += 1
            if q["error"]:
                failures.setdefault(q["name"], q["error"])
            elif q["mismatch"]:
                failures.setdefault(q["name"], f"pass {q['pass']} result differs from the checked pass")
    return len(runs), failed, failures


def end_to_end(res, setup_s, workload):
    passes = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    if workload == "stream":
        p50 = res["stream"]["lat_p50_s"]
    else:
        p50 = statistics.median(q["build_s"] + q["plan_s"] + q["exec_s"]
                                for q in res["queries"] if q["pass"] > 0 and not q["error"])
    return {"setup_s": setup_s, "pass_s": statistics.median(passes),
            "query_p50_s": p50, "peak_rss_mb": res["peak_rss_mb"]}


def per_layer(res, workload):
    layers = dict.fromkeys(PER_LAYER, 0.0)
    layers.update(res.get("layers", {}))
    layers["functions.codegen_fallbacks"] = float(res.get("codegen_fallbacks", 0))
    if workload == "stream":
        st = res["stream"]
        layers["stream_sustained_eps"] = float(st["sustained_eps"])
        layers["stream_lat_p50_s"] = st["lat_p50_s"]
        layers["stream_lat_p95_s"] = st["lat_p95_s"]
    return layers


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(PROFILES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/compare.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"not run from a graft checkout: {need} is missing")
    for var in ("SPARK_HOME",):
        if var not in os.environ:
            fail(f"{var} is not set")

    os.makedirs(BUILD, exist_ok=True)
    build()
    data = data_dir(a.workload, a.seed)
    log(f"inputs ready: {data}")
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"

    run_dir = None
    try:
        t, res, run_dir = run_jvm(tag, a.workload, a.seed, a.seconds, a.trace, data)
        setup_s = setup_seconds(t, res)
        log(f"JVM done, set-up {setup_s:.1f} s")
        if a.workload == "stream":
            st = res["stream"]
            attempted, failed = st["attempted"], st["failed"]
            failures = {} if not failed else {"stream": f"{st['open_loop_mismatches']} open-loop rows "
                                              f"and drain passes "
                                              f"{[p['mismatches'] for p in res['passes']]} differ"}
        else:
            oracle = oracle_check(res["checks"], data, os.path.basename(data))
            attempted, failed, failures = batch_outcome(res, oracle)
        log("results checked")
        trace_src = os.path.join(run_dir, "out", "trace.json")
        if os.path.exists(trace_src):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(trace_src, os.path.join(BUILD, "traces", f"{tag}.json"))
    finally:
        if run_dir:
            shutil.rmtree(run_dir, ignore_errors=True)

    metrics = per_layer(res, a.workload) if a.trace else end_to_end(res, setup_s, a.workload)
    units = PER_LAYER if a.trace else END_TO_END
    detail = {"workload": a.workload, "host": {**host_info(a.seed), **res["host"]},
              "fail_frac": failed / attempted if attempted else 1.0, "failures": failures,
              "setup_s": setup_s, "layouts_s": res.get("layouts", {}),
              "passes": res["passes"], "codegen_fallbacks": res.get("codegen_fallbacks")}
    if a.workload == "stream":
        detail["stream"] = res["stream"]
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{tag}.json"), "w") as fh:
        json.dump({"detail": detail, "result": res}, fh)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
