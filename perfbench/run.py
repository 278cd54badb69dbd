#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the program and the benchmark with sbt (perfbench/build.sbt
compiles the repository's own build); later runs reuse that build while the
sources are unchanged. Each run starts one JVM at local[4], makes its inputs
from the seed, measures for the given seconds, checks every output, and prints
one JSON line as the last line of stdout:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones, and the run also leaves spans.jsonl and counters.txt under
perfbench/.work/last-trace-<workload>/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("rules", "query_suite")
DEADLINE_S = 170  # per JVM run; a build may take BUILD_S more
BUILD_S = 700

# The client compiler only. With the server compiler, operation times kept
# falling for over a minute of a run (a query from 500 ms to 180 ms on a
# 4-vCPU VM) while it compiled, and how far it had got depended on how much
# CPU its threads found on the host, so runs of the same code differed by up
# to 2x. With the client compiler the times are level after the warm-up.
JIT = ["-XX:TieredStopAtLevel=1"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads or follows, relative to the repository root."""
    files = ["build.sbt", "project/build.properties", "perfbench/run.py",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src/main"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    return env


def jar_dirs(cp):
    """The classpath with each class directory packed into a jar under
    .work/jars: class-data sharing archives only classes from jars."""
    jars_dir = os.path.join(WORK, "jars")
    shutil.rmtree(jars_dir, ignore_errors=True)
    os.makedirs(jars_dir)
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(jars_dir, f"classes{i}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for d, _, names in os.walk(entry):
                    for n in sorted(names):
                        f = os.path.join(d, n)
                        z.write(f, os.path.relpath(f, entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def classpath():
    """The run classpath, building first when the sources changed."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "build.classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read()
    log("building the program and the benchmark with sbt")
    for f in (stamp_file, cp_file):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(os.path.join(WORK, "cds"), ignore_errors=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=BUILD_S)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = jar_dirs(lines[-1].strip())
    for w in benchmark_workloads():
        class_sharing(cp, w)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def benchmark_workloads():
    """The workloads BENCHMARK.json lists, whose archives a build writes."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return [w["name"] for w in json.load(f)["workloads"] if w["name"] in WORKLOADS]
    except (OSError, ValueError, KeyError):
        return []


def class_sharing(cp, workload):
    """JVM flags that map a class-data sharing archive of this workload's
    classes, which cuts JVM and Spark start-up by several seconds. The
    archive is written by an unmeasured one-second run of the workload:
    after a build for every workload BENCHMARK.json lists, otherwise the
    first time a workload runs. So every measured run starts the same way."""
    archive = os.path.join(WORK, "cds", f"{workload}.jsa")
    if not os.path.exists(archive):
        log(f"writing the class-data sharing archive for {workload}")
        os.makedirs(os.path.dirname(archive), exist_ok=True)
        work = os.path.join(WORK, f"cds-{os.getpid()}")
        try:
            prepare(work, workload, 0)
            jvm(cp, [f"-XX:ArchiveClassesAtExit={archive}", "-Xlog:cds=off,cds+dynamic=off"],
                [workload, "0", "1", "0"], work, time.time() + DEADLINE_S)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return [f"-XX:SharedArchiveFile={archive}"]


def prepare(work, workload, seed):
    """A fresh run directory holding the workload's generated input files."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if workload == "query_suite":
        import tables
        tables.write(os.path.join(work, "tables"), seed)


def jvm(cp, flags, args, work, deadline):
    """Run perfbench.Main with `args` in `work`; returns its result."""
    result = os.path.join(work, "result.json")
    cmd = ["java", *ADD_OPENS, *flags, *JIT, "-Xmx2g", "-XX:+UseParallelGC",
           "-Djava.io.tmpdir=" + work, "-cp", cp, "perfbench.Main", *args, work, result]
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=sys.stderr)
    try:
        code = proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: the benchmark JVM ran out of time")
    if code != 0 or not os.path.exists(result):
        raise SystemExit(f"perfbench: the benchmark JVM failed with exit code {code}")
    with open(result) as f:
        return json.load(f)


def check_queries(res, work):
    """Compare each query result the JVM wrote with DuckDB; returns the
    number of timed queries whose result did not match."""
    import oracle
    import tables
    extra = res["extra"]
    oracle_sql = extra["oracle_sql"]
    con = oracle.connect(os.path.join(work, "tables"), tables.TABLES)
    wrong = {}
    for q, rid in sorted({(c["query"], c["result"]) for c in extra["checks"]}):
        if q in oracle_sql:
            why = oracle.mismatch(con, os.path.join(work, "results", str(rid)), oracle_sql[q])
            if why is not None:
                wrong[rid] = why
                log(f"{q}: result {rid} differs from DuckDB: {why}")
    con.close()
    unchecked = sorted({c["query"] for c in extra["checks"]} - set(oracle_sql))
    if unchecked:
        log(f"no oracle for {', '.join(unchecked)}")
    return sum(1 for c in extra["checks"] if c["result"] in wrong)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--detail", help="also write the run's full result JSON to this file")
    args = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: the program's sources (build.sbt, src/main/scala/graft) "
                         "are not in this checkout")
    os.makedirs(WORK, exist_ok=True)
    cp = classpath()
    flags = class_sharing(cp, args.workload)
    deadline = time.time() + DEADLINE_S
    work = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        prepare(work, args.workload, args.seed)
        res = jvm(cp, flags, [args.workload, str(args.seed), str(args.seconds), str(args.trace)],
                  work, deadline)
        failed = res["failed"]
        if args.workload == "query_suite":
            failed += check_queries(res, work)
        if args.trace:
            keep = os.path.join(WORK, f"last-trace-{args.workload}")
            shutil.rmtree(keep, ignore_errors=True)
            os.makedirs(keep)
            for f in ("spans.jsonl", "counters.txt", "result.json"):
                shutil.copy(os.path.join(work, f), keep)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["failed"] = failed
    if args.detail:
        with open(args.detail, "w") as f:
            json.dump(res, f)
    d = res["detail"]
    log(f"{args.workload} seed={args.seed} cpus={res['cpus']} ops={d['ops']} "
        f"failed={failed}/{res['attempted']} wall={json.dumps(d['wall'])} "
        f"kinds={json.dumps(d['kinds'])}")
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
