#!/usr/bin/env python3
"""Run one benchmark workload of the Spark engine and check its outputs.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
      [--sf DIR] [--full] [--keep FILE]

Run from the repository root. The first run builds the engine and the
harness from source with sbt (offline) into .bench_build/; later runs reuse
that build while the sources are unchanged. Each run is a fresh JVM with a
fresh scratch root under .bench_build/runs/, removed when the run ends.

The harness runs the workload's fixed query slice (perfbench/workloads.json;
--full runs every query of the workload) in an order permuted by --seed, one
query at a time. --seconds is the time the slice is sized for; the slice is
the same for every seed, so runs with different seeds measure the same work.

Outputs are checked in the same command: row counts against DuckDB for
queries with oracle SQL, and row counts plus order-independent row digests
against perfbench/expected.json (pinned from the seed commit) for all
queries that have a pin. A query that throws or fails a check is listed by
name and counted in `failed`.

The last stdout line is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). Exits non-zero without that line when the engine sources or the
data are missing, or the build or the JVM fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
WORKLOADS = os.path.join(HERE, "workloads.json")
EXPECTED = os.path.join(HERE, "expected.json")
DEFAULT_SF = os.path.expanduser("~/testdata/sf0.1")
BUILD_TIMEOUT_S = 600
JVM_TIMEOUT_S = 140
ORACLE_TIMEOUT_S = 10
HEAP = "3g"
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# Spark on JDK 17 outside spark-submit needs these (Spark's own
# JavaModuleOptions list), as the engine's own build passes them.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile engine + harness once per source state; return the classpath."""
    engine = os.path.join(ROOT, "src", "main", "scala", "graft",
                          "SparkEntry.scala")
    if not os.path.isfile(engine):
        fail("engine sources not found; run from the repository root")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got.get("sources") == digest:
            return got["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's temp files, server socket and JNA stubs stay in the build dir
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                    "export Runtime/fullClasspath"], HERE, env, log,
                   BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = [ln for ln in lines if ln.startswith("/") and ".jar" in ln]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); see {log}")
    with open(stamp, "w") as fh:
        json.dump({"sources": digest, "classpath": cp[-1]}, fh)
    return cp[-1]


def run_group(cmd, cwd, env, log, timeout):
    """Run cmd in its own process group with output to log; on timeout kill
    the whole group. Returns the exit code, or "timeout"."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return "timeout"
        finally:  # also on SIGTERM or Ctrl-C: never leave the group behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def run_jvm(classpath, args, scratch, timeout):
    # a fixed, pre-touched heap: the resident set then moves with native
    # memory (code cache, metaspace, threads, off-heap buffers), not with
    # when the collector chose to grow the heap
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={scratch}/tmp",
            f"-Dderby.system.home={scratch}",
            "-Dlog4j2.configurationFile=" +
            os.path.join(HERE, "log4j2.properties"),
            "-cp", classpath, "graft.perfbench.Harness"] + args
    os.makedirs(os.path.join(scratch, "tmp"))
    env = dict(os.environ, GRAFT_LAKE_ROOT=os.path.join(scratch, "tmp"))
    log = os.path.join(scratch, "jvm.log")
    rc = run_group(cmd, scratch, env, log, timeout)
    if rc != 0:
        with open(log) as fh:
            tail = fh.read().splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        return None
    return True


def duckdb_rows(sf_dir, queries, scratch):
    """Row count of each oracle SQL over the same parquet tables, or the
    error DuckDB raised within its memory, spill and time caps."""
    import duckdb
    con = duckdb.connect()
    for setting in ("threads TO 4", "memory_limit = '2GB'",
                    f"temp_directory = '{scratch}/duckdb'",
                    "max_temp_directory_size = '2GB'"):
        con.execute(f"SET {setting}")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    rows = {}
    for q in queries:
        sql = q["oracle"].strip().rstrip(";")
        timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
        timer.start()
        try:
            rows[q["name"]] = con.execute(
                f"SELECT count(*) FROM ({sql})").fetchone()[0]
        except duckdb.Error as e:
            rows[q["name"]] = f"{type(e).__name__}: {str(e)[:200]}"
        finally:
            timer.cancel()
    con.close()
    return rows


def check(result, sf_dir, scratch):
    """Return ({query name: reason} for every query that failed, the names
    whose oracle DuckDB could not run, so only the pin checked them)."""
    label = os.path.basename(os.path.normpath(sf_dir))
    with open(EXPECTED) as fh:
        pinned = json.load(fh).get(label, {})
    qs = result["queries"]
    oracle = duckdb_rows(sf_dir, [q for q in qs if q["oracle"] and
                                  not q["error"]], scratch)
    failures = {}
    unrun = []
    for q in qs:
        name = q["name"]
        if q["error"]:
            failures[name] = q["error"]
            continue
        pin = pinned.get(name)
        want = oracle.get(name)
        if isinstance(want, str):
            unrun.append(name)
            want = None
        if want is None and pin is None:
            failures[name] = "no runnable oracle and no pinned output"
        elif want is not None and want != q["rows"]:
            failures[name] = f"rows {q['rows']} != duckdb {want}"
        elif pin is not None and pin["rows"] != q["rows"]:
            failures[name] = f"rows {q['rows']} != pinned {pin['rows']}"
        elif pin is not None and pin["digest"] not in (None, q["digest"]):
            failures[name] = "row digest differs from pinned"
    return failures, unrun


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--sf", default=DEFAULT_SF)
    ap.add_argument("--full", action="store_true",
                    help="run every query of the workload, not the slice")
    ap.add_argument("--keep", metavar="FILE",
                    help="write the harness result, check failures and "
                         "(with --trace 1) the spans to FILE")
    a = ap.parse_args()

    if not os.path.isfile(SPEC) or not os.path.isfile(WORKLOADS):
        fail("BENCHMARK.json or perfbench/workloads.json not found")
    with open(WORKLOADS) as fh:
        workloads = json.load(fh)["workloads"]
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload}; one of {sorted(workloads)}")
    with open(SPEC) as fh:
        spec = json.load(fh)
    if not os.path.isfile(os.path.join(a.sf, "lineitem.parquet")):
        fail(f"data not found at {a.sf}")

    classpath = build()
    scratch = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        out = os.path.join(scratch, "result.json")
        spans = os.path.join(scratch, "spans.json")
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--trace", str(a.trace), "--sf", os.path.abspath(a.sf),
                "--scratch", os.path.join(scratch, "tmp"), "--out", out,
                "--spans", spans]
        if not a.full:
            args += ["--queries", ",".join(workloads[a.workload]["slice"])]
        if not run_jvm(classpath, args, scratch,
                       900 if a.full else JVM_TIMEOUT_S):
            fail("the harness JVM failed")
        with open(out) as fh:
            result = json.load(fh)
        failures, unrun = check(result, a.sf, scratch)
        if a.keep:
            span_list = []
            if a.trace:
                with open(spans) as fh:
                    span_list = json.load(fh)
            with open(a.keep, "w") as fh:
                json.dump({"result": result, "failures": failures,
                           "spans": span_list}, fh)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    attempted = len(result["queries"])
    # a traced run prints the end-to-end metrics too (traced, so not for
    # comparison); its result line carries the per-layer metrics
    kinds = ["end_to_end", "per_layer"] if a.trace else ["end_to_end"]
    printed = {}
    for kind in kinds:
        for m in spec[kind]:
            v = result[kind].get(m["name"])
            if v is None:
                fail(f"harness did not report {m['name']}")
            printed[m["name"]] = {"value": v, "unit": m["unit"]}
    metrics = {m["name"]: printed[m["name"]] for m in spec[kinds[-1]]}

    print(f"workload {a.workload} seed {a.seed} sf {a.sf} "
          f"cpus {result['cpus']} queries {attempted}")
    wall = result["end_to_end"]["wall_s"]
    if not a.full and wall > 2 * a.seconds:
        print(f"perfbench: the pass took {wall:.1f} s, over twice the "
              f"{a.seconds} s its slice is sized for", file=sys.stderr)
    for name, m in printed.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(f"  failed_frac = {len(failures) / attempted:.4g} "
          f"({len(failures)} of {attempted})")
    for name in unrun:
        print(f"  oracle not runnable in DuckDB, pinned output used: {name}")
    for name, why in sorted(failures.items()):
        print(f"  FAILED {name}: {why}")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
