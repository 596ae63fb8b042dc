#!/usr/bin/env python3
"""Crawl-frontier and catalog benchmark for graft.

Run from the root of a checkout:

    python3 crawlbench/run.py --workload frontier-wide --seed 1 --seconds 40 --trace 0
    python3 crawlbench/run.py --workload catalog --seed 1 --seconds 40 --trace 1
    python3 crawlbench/run.py --selftest

The first run in a checkout builds the engine and the benchmark's JVM
program from source with sbt (crawlbench/build.sbt); later runs reuse the build
while the sources are unchanged. Each run starts one JVM, prints progress
lines, and ends with one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. See crawlbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
OUT = os.path.join(HERE, "out")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "sources.sha256")
# the catalog workload's tables: a copy of the sf0.01 test tables
TABLES = os.path.join(HERE, "data", "sf0.01")

WORKLOADS = ("frontier-wide", "catalog")
# one fixed, pre-committed heap for every run: room for the frontier
# workload's link graph, oracle corpus and hash builds, and no more
HEAP = "2g"
# a run must end within this many seconds; the first run of a checkout
# also builds
RUN_LIMIT_S = 175
SELFTEST_LIMIT_S = 600
BUILD_LIMIT_S = 700

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[crawlbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the engine's main sources and the
    benchmark's own build and sources."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def sources_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("crawlbench: Spark not found (set SPARK_HOME)")
    return home


def build():
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    sbt = shutil.which("sbt")
    if not sbt:
        sys.exit("crawlbench: sbt not found")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log("building engine and benchmark with sbt")
    t0 = time.time()
    # sbt's script starts a JVM of its own: on a timeout the whole process
    # group is killed and waited for
    proc = subprocess.Popen([sbt, "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"crawlbench: build did not end within {BUILD_LIMIT_S} s")
    if rc != 0 or not os.path.exists(CLASSPATH):
        sys.exit(f"crawlbench: build failed (sbt exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    log(f"build done in {time.time() - t0:.1f} s")


def java_cmd(args):
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java:
        sys.exit("crawlbench: java not found")
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ([java] + opens + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Xlog:disable", "-Xlog:all=warning:stderr",
        "-cp", cp, "crawlbench.CrawlBench",
        "--work", WORK, "--out", OUT, "--tables", TABLES,
        "--cores", str(os.cpu_count() or 1)] + args)


def run_jvm(args, limit_s):
    """Runs the measuring JVM in a fresh work directory, echoing its
    stdout, and returns its stdout lines. The JVM is killed and waited for
    if it overruns `limit_s`. The caller removes the work directory."""
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    # Spark would put its scratch space in SPARK_LOCAL_DIRS over spark.local.dir
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(java_cmd(args), cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    lines = []
    started = time.time()
    deadline = started + limit_s
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            if not line.startswith("CRAWLBENCH_"):
                print(line, end="", flush=True)
            if time.time() > deadline:
                break
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            log(f"JVM killed after {limit_s:.0f} s")
        log(f"JVM ran {time.time() - started:.1f} s")
    if proc.returncode != 0:
        shutil.rmtree(WORK, ignore_errors=True)
        sys.exit(f"crawlbench: measuring JVM exited with {proc.returncode}")
    return lines


def oracle_check(check_dir):
    """The catalog check: each query's result, as the warm-up pass wrote
    it, must match its DuckDB oracle over the same tables in row count,
    sorted column names and a hash of the normalised values (the gate of
    tools/check_oracle.py). Returns the names of the queries that do not."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(TABLES)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                    f"SELECT * FROM '{os.path.join(TABLES, f)}'")
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)

    def norm(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, bool):
            return str(int(v))
        return str(v)

    def rows_hash(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        h = hashlib.sha256()
        for r in sorted(tuple(norm(r[i]) for i in order) for r in rows):
            h.update("\x01".join(r).encode())
            h.update(b"\x02")
        return h.hexdigest()

    bad = []
    for name in sorted(os.listdir(check_dir)):
        d = os.path.join(check_dir, name)
        if not os.path.isdir(d):
            continue
        got = con.execute(f"SELECT * FROM '{d}/*.parquet'")
        gcols = [c[0] for c in got.description]
        grows = got.fetchall()
        if name not in oracle:
            ok = len(grows) > 0
        else:
            exp = con.execute(oracle[name])
            ecols = [c[0] for c in exp.description]
            erows = exp.fetchall()
            ok = (sorted(gcols) == sorted(ecols) and len(grows) == len(erows)
                  and rows_hash(gcols, grows) == rows_hash(ecols, erows))
        if not ok:
            log(f"{name}: result differs from its DuckDB oracle")
            bad.append(name)
    con.close()
    return bad


def perturb(check_dir, name):
    """Self-test corruption: replaces the first row of one query's result
    with a copy of its last, keeping the row count."""
    import duckdb
    d = os.path.join(check_dir, name)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM '{d}/*.parquet'")
    n = con.execute("SELECT count(*) FROM t").fetchone()[0]
    shutil.rmtree(d)
    os.makedirs(d)
    con.execute(f"COPY (SELECT * FROM (SELECT * FROM t OFFSET 1) UNION ALL "
                f"(SELECT * FROM t OFFSET {n - 1})) TO '{d}/part-0.parquet' (FORMAT PARQUET)")
    con.close()


def finish(res, workload, check_dir, trace):
    """Adds the catalog check to a catalog run's outcome."""
    failed_ops = res.pop("failed_ops")
    if workload.endswith("catalog"):
        t0 = time.perf_counter()
        bad = [q for q in oracle_check(check_dir) if q not in failed_ops]
        if trace:
            res["metrics"]["oracle.wall_s"]["value"] = time.perf_counter() - t0
        res["failed"] += len(bad)
        res["correct"] = res["failed"] == 0
        failed_ops += bad
    if failed_ops:
        log(f"failed operations: {', '.join(failed_ops)}")
    return res


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def check_names(result, trace):
    """The result must carry exactly the declared metrics, with their units."""
    want = declared_metrics(trace)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        units = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        return f"missing {missing}, undeclared {extra}, wrong units {units}"
    bad = [k for k, v in result["metrics"].items()
           if not isinstance(v["value"], (int, float))]
    return f"non-numeric {bad}" if bad else None


def selftest():
    """Tiny configurations of both workloads: every metric is printed with
    its unit, clean runs pass their checks, and a damaged output (a dropped
    crawl-log row, a dropped seen-set URL, a changed query result) or an
    operation that throws fails them."""
    lines = run_jvm(["--mode", "selftest", "--seed", "7"], SELFTEST_LIMIT_S)
    cases = [l.split(" ", 5) for l in lines if l.startswith("CRAWLBENCH_SELFTEST ")]
    problems = []
    try:
        for _, wl, trace, corrupt, tag, payload in cases:
            check_dir = os.path.join(WORK, "check", tag)
            if corrupt == "hash":
                perturb(check_dir, "a1_agg_per_group")
            res = finish(json.loads(payload), wl, check_dir, trace == "1")
            name = f"{wl} trace={trace} corrupt={corrupt}"
            err = check_names(res, trace == "1")
            if err:
                problems.append(f"{name}: {err}")
            if corrupt == "none" and (not res["correct"] or res["failed"] != 0):
                problems.append(f"{name}: clean run failed its check")
            if corrupt != "none" and (res["correct"] or res["failed"] == 0):
                problems.append(f"{name}: damaged run passed its check")
            print(f"selftest {name}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} metrics={len(res['metrics'])}")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    if len(cases) != 9:
        problems.append(f"expected 9 self-test cases, got {len(cases)}")
    for p in problems:
        print(f"selftest FAILED: {p}")
    print("selftest " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, default=40)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.exists(os.path.join(ROOT, "BENCHMARK.json"))):
        sys.exit("crawlbench: run from the root of a graft checkout "
                 "(engine sources not found)")
    t0 = time.time()
    build()
    if a.selftest:
        return selftest()
    limit = RUN_LIMIT_S - (time.time() - t0) if time.time() - t0 < 60 else RUN_LIMIT_S
    lines = run_jvm(["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace)], limit)
    try:
        results = [l.split(" ", 2) for l in lines if l.startswith("CRAWLBENCH_RESULT ")]
        if not results:
            sys.exit("crawlbench: no result from the measuring JVM")
        _, tag, payload = results[-1]
        res = finish(json.loads(payload), a.workload, os.path.join(WORK, "check", tag),
                     a.trace == 1)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    err = check_names(res, a.trace == 1)
    if err:
        sys.exit(f"crawlbench: metric set does not match BENCHMARK.json: {err}")
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
