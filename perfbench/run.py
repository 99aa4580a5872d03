#!/usr/bin/env python3
"""Serving-and-query benchmark of the graft engine.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload serve_bulk --seed 1 --seconds 12 --trace 0

The first run builds the program and the benchmark from source with sbt
(offline) into .bench_build/ and generates the query data there with the
program's own SfGen; later runs reuse both until a source file changes.
Each run starts one JVM (perfbench.Main), which runs the workload and
prints its raw numbers; this script adds the DuckDB oracle check of the
query results (the repo's own tools/check_oracle.py) and prints, as its
last stdout line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
The traced run also writes its spans to .bench_build/traces/.

Exits non-zero, without a result line, when the checkout holds no
program to build; and non-zero, after the result line, when an output
check failed or an op of the mix never succeeded. A run ends within
RUN_CAP_S seconds (plus the build, when there is one): the JVM is told
when it must print, and ends its loop early to keep that.
"""
import argparse
import contextlib
import fcntl
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SCALE = "0.01"
DATA = os.path.join(BUILD, "data", f"sf{SCALE}")
CACHE = os.path.join(BUILD, "cache")
ORACLE = os.path.join(BUILD, "oracle")
# QueryBatch.queries: the queries whose DuckDB answers a build keeps
QUERIES = ("q05_local_supplier_volume", "q48_price_deciles", "q50_basket_pairs",
           "q58_market_share", "d03_minhash_lsh_pairs", "d13_containment_complete",
           "d24_soft_dedup_weights", "d28_cluster_keeper", "s25_kmeans_churn",
           "s31_quantization_sheet", "t18_keyword_tfidf", "p25_shard_dedup_leakage",
           "m23_caption_transfer")
WORKLOADS = ("serve_bulk", "query_batch")
# a run, once built, must end within 180 s
RUN_CAP_S = 170
# time kept after the JVM: its exit, and the oracle check of query_batch
AFTER_JVM_S = {"serve_bulk": 5, "query_batch": 8}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
# the module options spark-submit passes to a JDK 17 JVM
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_stamp(dirs, files=()):
    """Hash of the source files under `dirs` (build outputs skipped)."""
    paths = list(files)
    for d in dirs:
        for dirpath, dirnames, names in os.walk(d):
            dirnames[:] = [n for n in dirnames if n not in ("target", "project")]
            paths += [os.path.join(dirpath, n) for n in names
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    h = hashlib.sha256()
    for f in sorted(set(paths)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_logged(cmd, cwd, env, timeout):
    """Run to completion in its own process group; returns (rc, stdout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=sys.stderr, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, ""
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def build():
    """Compile program + benchmark; returns the runtime classpath."""
    log("building program and benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx3g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.isfile(repos) else "")
    rc, out = run_logged(
        ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"], HERE, env, 850)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"sbt build failed (rc={rc})", 3)
    return lines[-1].strip()


def prepare():
    """Everything a run needs that depends only on the sources: the
    classpath, the query tables and the oracle's answers. Each is redone
    only when a source it depends on changes; returns the classpath."""
    program = source_stamp(
        [os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main")],
        [os.path.join(ROOT, "build.sbt")]) + SCALE
    stamp = program + source_stamp([os.path.join(HERE, "project"), os.path.join(HERE, "src")],
                                   [os.path.join(HERE, "build.sbt"), os.path.abspath(__file__)])
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    if os.path.isfile(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(CACHE, ignore_errors=True)
    cp = build()
    data_stamp = os.path.join(DATA, "_STAMP")
    if not os.path.isfile(data_stamp) or open(data_stamp).read() != program:
        shutil.rmtree(DATA, ignore_errors=True)
        generate_data(cp)
        with open(data_stamp, "w") as f:
            f.write(program)
    oracle_stamp = os.path.join(ORACLE, "_STAMP")
    if not os.path.isfile(oracle_stamp) or open(oracle_stamp).read() != program + str(QUERIES):
        oracle_answers(cp)
        with open(oracle_stamp, "w") as f:
            f.write(program + str(QUERIES))
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, run_dir, heap="3g"):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    return [java, *ADD_OPENS, f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC", "-Dsun.net.httpserver.nodelay=true",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp]


def jvm_env():
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    env.pop("SPARK_LOCAL_DIRS", None)
    return env


def make_run_dir(tag):
    d = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(d, sub), exist_ok=True)
    return d


def generate_data(cp):
    """The query tables, from the program's SfGen."""
    log(f"generating sf{SCALE} tables")
    run_dir = make_run_dir("datagen")
    try:
        rc, _ = run_logged(java_cmd(cp, run_dir) + ["graft.datagen.SfGen", DATA, SCALE],
                           run_dir, jvm_env(), 600)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or not all(os.path.isfile(os.path.join(DATA, f"{t}.parquet")) for t in TABLES):
        fail(f"data generation failed (rc={rc})", 3)


def oracle_answers(cp):
    """DuckDB's answer to each query's oracle SQL, kept as parquet for
    the life of the build: at sf0.01, d24 and d28 alone take about two
    minutes in DuckDB, more than a run has. The SQL is what the
    program's graft.Verify writes for these queries."""
    log("computing the oracle answers in DuckDB")
    import duckdb
    import pyarrow.parquet as pq
    shutil.rmtree(ORACLE, ignore_errors=True)
    verify = os.path.join(ORACLE, "verify")
    run_dir = make_run_dir("oracle")
    try:
        rc, _ = run_logged(java_cmd(cp, run_dir) + ["graft.Verify", DATA, verify, ",".join(QUERIES)],
                           run_dir, jvm_env(), 600)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    sql_file = os.path.join(verify, "oracle_sql.json")
    if rc != 0 or not os.path.isfile(sql_file):
        fail(f"graft.Verify failed (rc={rc})", 3)
    sql = json.load(open(sql_file))
    if sorted(sql) != sorted(QUERIES):
        fail(f"graft.Verify wrote oracle SQL for {sorted(sql)}, not {sorted(QUERIES)}", 3)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    for name in QUERIES:
        pq.write_table(con.execute(sql[name]).fetch_arrow_table(),
                       os.path.join(ORACLE, f"{name}.parquet"))
    shutil.rmtree(verify)


def oracle_check(run_dir):
    """The check pass's query results against the oracle's answers,
    with the repo's own checker (tools/check_oracle.py), its report on
    stderr. The checker runs each query's SQL; here that SQL reads the
    kept answer."""
    check_dir = os.path.join(run_dir, "check")
    written = sorted(n for n in os.listdir(check_dir) if not n.startswith((".", "_")))
    if written != sorted(QUERIES):
        log(f"oracle FAIL: the check pass wrote {written}, not {sorted(QUERIES)}")
        return False, len(written)
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump({n: f"SELECT * FROM read_parquet('{ORACLE}/{n}.parquet')" for n in QUERIES}, f)
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    checker = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(checker)
    with contextlib.redirect_stdout(sys.stderr):
        rc = checker.main(DATA, check_dir)
    return rc == 0, len(QUERIES)


def fmt(v):
    return "null" if v is None else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) \
            or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no program sources under {ROOT} (build.sbt, src/main/scala/graft)")
    bench = json.load(open(bench_file))

    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp = prepare()
    # the cap counts from here: a run that built gets its whole cap after the build
    stop_by = RUN_CAP_S - AFTER_JVM_S[args.workload]

    run_dir = make_run_dir(f"{args.workload}-{args.seed}")
    try:
        rc, out = run_logged(
            java_cmd(cp, run_dir) + [
                "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--data", DATA, "--cache", CACHE, "--run-dir", run_dir,
                "--stop-by", f"{stop_by:.1f}"],
            run_dir, jvm_env(), stop_by + 3)
        lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
        if rc is None:
            fail(f"run passed its {stop_by:.0f} s and was killed", 4)
        if rc != 0 or not lines:
            fail(f"benchmark JVM failed (rc={rc})", 4)
        res = json.loads(lines[-1][len("PERFBENCH "):])
        oracle_ok, n_oracle = True, 0
        if args.workload == "query_batch":
            t0 = time.time()
            oracle_ok, n_oracle = oracle_check(run_dir)
            log(f"oracle check {time.time() - t0:.1f} s")
        if args.trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            spans = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.jsonl")
            shutil.copyfile(os.path.join(run_dir, "spans.jsonl"), spans)
            log(f"spans written to {os.path.relpath(spans, ROOT)}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, layers = res["end_to_end"], res["per_layer"]
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    for name in sorted(e2e):
        print(f"{args.workload} {name} = {fmt(e2e[name])} {units.get(name, '')}")
    t = res["tail"]
    print(f"{args.workload} op_tail_ms is p{fmt(t['percentile'])} of n={t['n']} ok ops; "
          f"attempted {res['attempted']}, failed {res['failed']} "
          f"({res['check_failed']} failed their check), "
          f"window {res['window_s']:.1f} s, oracle {n_oracle} queries "
          f"{'ok' if oracle_ok else 'FAILED'}")
    for op in res["unserved_ops"]:
        print(f"{args.workload} error: no {op} op succeeded")
    for err in res["errors"]:
        print(f"{args.workload} error: {err}")
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = {**e2e, **layers} if args.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"benchmark produced no value for {missing}", 5)
    # a metric with no samples (null) means the run measured nothing there
    correct = (res["check_failed"] == 0 and not res["unserved_ops"] and oracle_ok
               and all(values[m["name"]] is not None for m in wanted))
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
