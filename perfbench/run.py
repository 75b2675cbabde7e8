#!/usr/bin/env python3
"""Repository benchmark: seeded corpora through the checkpointed chain and the
incremental run; traced runs add the kernels alone and a query panel.

Usage (from the repository root):

    python3 perfbench/run.py --workload chain_web --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

The first call compiles the engine sources (src/main/scala) together with
the benchmark's own (perfbench/src) into .bench_build/ with the Scala
compiler that ships in $SPARK_HOME/jars, and records a class-data-sharing
archive from one short run; later calls reuse both until a source
changes. Each run works under .bench_work/ and removes its
data when it ends; spans of traced runs are kept in .bench_work/spans/.
The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")
# Spark's jars, the Scala compiler among them
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
# BENCHMARK.json's workloads first; the other two run by name only
WORKLOADS = ["chain_web", "chain_dupheavy", "query_panel", "incr_dupheavy"]
RUN_TIMEOUT_S = 170
HEAP = "4g"

# Spark on JDK 17 outside spark-submit needs these (as build.sbt sets).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    if not os.path.isdir(SPARK_JARS):
        sys.exit(f"perfbench: no Spark jars at {SPARK_JARS!r}; set SPARK_HOME")
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        sys.exit("perfbench: engine sources src/main/scala/graft not found; "
                 "run from a full checkout")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    return files


def build():
    """Compile engine + benchmark sources once per source state, jar them,
    and record a class-data-sharing archive from one short run."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    jar = os.path.join(BUILD, "engine.jar")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(BUILD, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return jar
        for f in (stamp_file, jar, CDS_ARCHIVE):
            if os.path.exists(f):
                os.remove(f)
        classes = os.path.join(BUILD, "classes")
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        t0 = time.time()
        log(f"compiling {len(files)} sources")
        cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", os.path.join(SPARK_JARS, "*"),
               "scala.tools.nsc.Main", "-nowarn", "-d", classes,
               "-classpath", os.path.join(SPARK_JARS, "*"),
               "-Ybackend-parallelism", "4"] + files
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            sys.exit(f"perfbench: compile failed ({r.returncode})")
        # class-data sharing maps classes from jars only
        with zipfile.ZipFile(jar, "w") as z:
            for d, _, names in os.walk(classes):
                for n in names:
                    p = os.path.join(d, n)
                    z.write(p, os.path.relpath(p, classes))
        log(f"compiled in {time.time() - t0:.1f} s")
        # One short run records the classes a run loads; later runs map them
        # instead of loading and verifying them again (about 6 s of each
        # run's cold set-up here). A failed recording only costs that time.
        work = os.path.join(WORK, f"cds-{os.getpid()}")
        os.makedirs(work, exist_ok=True)
        try:
            java(jar, "perfbench.Main", ["--workload", "chain_web", "--seed", "0",
                                         "--seconds", "1", "--trace", "1",
                                         "--work", work], work, record=True)
        except SystemExit as e:
            log(f"no class archive: {e}")
            if os.path.exists(CDS_ARCHIVE):
                os.remove(CDS_ARCHIVE)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        log(f"class archive recorded in {time.time() - t0:.1f} s")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return jar


def java(jar, main, args, work, record=False):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # ParallelGC and transparent huge pages: under the default G1 the
    # run-to-run spread of one run's wall time was ~0.2 of its median
    # (heap sizing and concurrent GC work vary between JVMs); with these
    # two flags it is under 0.1
    cmd = ["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:+UseParallelGC",
           "-XX:+UseTransparentHugePages", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           # JVM warnings to stderr: stdout carries the result line
           "-Xlog:disable", "-Xlog:all=warning:stderr"]
    if record:
        cmd.append(f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}")
    elif os.path.exists(CDS_ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={CDS_ARCHIVE}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", jar + os.pathsep + os.path.join(SPARK_JARS, "*"), main] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, cwd=work, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"perfbench: {main} exceeded {RUN_TIMEOUT_S} s")
    return proc.returncode, out


def oracle_check(work):
    """Compare each panel query's dumped result with its DuckDB oracle SQL,
    using tools/check_oracle.py's canonical ordering and cell equality."""
    sys.dont_write_bytecode = True
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    import pandas as pd
    from check_oracle import canon, cell_eq

    sf = os.path.join(work, "in", "panel")
    dump = os.path.join(work, "oracle")
    con = duckdb.connect()
    for t in os.listdir(sf):
        name = t[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf, t)}/*.parquet')")
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracle = json.load(f)
    bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            exp = canon(con.sql(sql).df())
            act = canon(pd.read_parquet(os.path.join(dump, name)))
        except Exception as e:  # noqa: BLE001
            log(f"FAIL oracle {name}: {e}")
            bad += 1
            continue
        if list(exp.columns) != list(act.columns) or len(exp) != len(act):
            log(f"FAIL oracle {name}: shape {act.shape} != {exp.shape}")
            bad += 1
            continue
        diff = next(((c, i, e, a) for c in exp.columns
                     for i, (e, a) in enumerate(zip(exp[c].tolist(), act[c].tolist()))
                     if not cell_eq(e, a)), None)
        if diff:
            log(f"FAIL oracle {name}: [{diff[0]}][row {diff[1]}] "
                f"oracle={diff[2]!r} engine={diff[3]!r}")
            bad += 1
    log(f"oracle: {len(oracle) - bad}/{len(oracle)} panel queries match")
    return bad == 0


def run_workload(jar, workload, seed, seconds, trace):
    work = os.path.join(WORK, f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code, out = java(jar, "perfbench.Main",
                         ["--workload", workload, "--seed", str(seed),
                          "--seconds", str(seconds), "--trace", str(trace),
                          "--work", work], work)
        lines = [l for l in out.splitlines() if l.strip()]
        if code != 0 or not lines:
            sys.exit(f"perfbench: {workload} exited {code} without a result")
        for l in lines[:-1]:
            print(l)
        res = json.loads(lines[-1])
        if os.path.isdir(os.path.join(work, "oracle")) and not oracle_check(work):
            res["correct"] = False
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            shutil.copy(spans, os.path.join(WORK, "spans", f"{workload}-s{seed}.jsonl"))
        return res
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    jar = build()
    if a.selftest:
        work = os.path.join(WORK, f"selftest-{os.getpid()}")
        os.makedirs(work, exist_ok=True)
        try:
            code, out = java(jar, "perfbench.SelfTest", ["--work", work], work)
            print(out, end="")
            if os.path.isdir(os.path.join(work, "oracle")) and not oracle_check(work):
                print("FAIL panel results match their DuckDB oracle SQL")
                code = code or 1
        finally:
            shutil.rmtree(work, ignore_errors=True)
        sys.exit(code)
    names = WORKLOADS if a.workload == "all" else [a.workload]
    for name in names:
        res = run_workload(jar, name, a.seed, a.seconds, a.trace)
        if len(names) > 1:
            print(f"{name}: {json.dumps(res)}")
    if len(names) == 1:
        print(json.dumps(res))


if __name__ == "__main__":
    main()
