#!/usr/bin/env python3
"""Benchmark of record for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload <ingest|hunt> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the program and the benchmark from source
(sbt, offline), packs the classes into a jar and records a class-data archive
(AppCDS) from one short training run of every workload and of the
declared-query corpus; later runs reuse the
build while the sources are unchanged. The archive spares every run most of
the JVM's class loading and verification, which otherwise took more than a
third of a run.
The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
A traced hunt run also runs the declared-query corpus; its answers are then
checked against their DuckDB oracles (perfbench/oracle.py) and a wrong
answer counts as failed.
Scratch data lives under `.bench_build/` and is removed when the run ends;
artifacts (effective conf, notes, spans) go to `perfbench/out/`.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

BENCH = "perfbench"
HEAP = "3g"
MAX_CORES = 4
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
TRAIN_TIMEOUT_S = 400
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# the JVM the benchmark runs in; `stop` kills its process group on a signal
running = {"proc": None}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    h = hashlib.sha256()
    for top in ("src/main", f"{BENCH}/src/main", f"{BENCH}/build.sbt", f"{BENCH}/project/build.properties"):
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def jvm(classpath, cores, scratch, args, extra=()):
    """The benchmark JVM's command line, with its scratch data under `scratch`."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, *extra, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-XX:ActiveProcessorCount={cores}",
           "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           f"-Dspark.local.dir={scratch}/spark-local",
           f"-Dspark.sql.warehouse.dir={scratch}/warehouse",
           f"-Djava.io.tmpdir={scratch}/tmp", f"-Dderby.system.home={scratch}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", ":".join(classpath), "perfbench.Main", *args, "--cores", str(cores), "--work", scratch]


def run_jvm(cmd, scratch, log, timeout):
    """Runs `cmd` in its own process group with its output in `log`; returns
    its exit code, or None if it ran past `timeout` and was killed."""
    for d in (scratch, os.path.join(scratch, "tmp"), os.path.join(scratch, "spark-local")):
        os.makedirs(d, exist_ok=True)
    with open(log, "w") as lf:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"))
        proc = running["proc"] = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                                  stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        finally:
            running["proc"] = None


def build(root, cores, scratch_root):
    """Compiles program + benchmark with sbt, packs the classes into a jar and
    records the class-data archive, unless the sources are unchanged; returns
    the runtime classpath and the JVM options that use the archive."""
    target = os.path.join(root, BENCH, "target")
    os.makedirs(target, exist_ok=True)
    stamp = os.path.join(target, "bench.stamp")
    cp_file = os.path.join(target, "bench.classpath")
    jar = os.path.join(target, "bench.jar")
    jsa = os.path.join(target, "bench.jsa")
    with open(os.path.join(target, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest(root)
        if not (os.path.exists(stamp) and open(stamp).read() == digest):
            for f in (stamp, jsa):
                if os.path.exists(f):
                    os.remove(f)
            env = dict(os.environ)
            env.setdefault("COURSIER_MODE", "offline")
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                               f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
            log = os.path.join(target, "build.log")
            with open(log, "w") as out:
                tmp = os.path.join(target, "tmp")
                os.makedirs(tmp, exist_ok=True)
                # keep sbt's temp files and JVM perf data inside the checkout
                rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
                                     "-J-XX:-UsePerfData", "compile", "writeClasspath"],
                                    cwd=os.path.join(root, BENCH), env=env, stdout=out, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
            if rc != 0:
                sys.stderr.write(open(log).read()[-4000:])
                fail(f"build failed (exit {rc}); log in {log}")
            # the archive maps classes from jars only, so the compiled classes
            # go into one
            entries = [p for p in open(cp_file).read().split("\n") if p]
            with zipfile.ZipFile(jar + ".tmp", "w") as z:
                for d in (e for e in entries if os.path.isdir(e)):
                    for base, _, files in sorted(os.walk(d)):
                        for f in sorted(files):
                            z.write(os.path.join(base, f), os.path.relpath(os.path.join(base, f), d))
            os.replace(jar + ".tmp", jar)
            classpath = [jar] + [e for e in entries if not os.path.isdir(e)]
            with open(cp_file + ".run", "w") as fh:
                fh.write("\n".join(classpath))
            # one JVM runs every workload briefly and writes the classes it
            # loaded to the archive when it exits
            scratch = os.path.join(scratch_root, f"train-{os.getpid()}")
            try:
                rc = run_jvm(jvm(classpath, cores, scratch,
                                 ["--workload", "train", "--seed", "0", "--seconds", "1", "--trace", "0",
                                  "--out", os.path.join(scratch, "out")], [f"-XX:ArchiveClassesAtExit={jsa}"]),
                             scratch, os.path.join(target, "train.log"), TRAIN_TIMEOUT_S)
            finally:
                shutil.rmtree(scratch, ignore_errors=True)
            if rc != 0 or not os.path.exists(jsa):
                sys.stderr.write(open(os.path.join(target, "train.log")).read()[-4000:])
                fail(f"training run for the class-data archive failed (exit {rc})")
            with open(stamp, "w") as fh:
                fh.write(digest)
    classpath = [p for p in open(cp_file + ".run").read().split("\n") if p]
    return classpath, [f"-XX:SharedArchiveFile={jsa}"]


def declared(root):
    """BENCHMARK.json, its end-to-end and per-layer metric names, and the unit
    of every metric: the one list of metrics the benchmark prints."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return spec, [m["name"] for m in spec["end_to_end"]], [m["name"] for m in spec["per_layer"]], units


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/Engine.scala", f"{BENCH}/build.sbt", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    spec, e2e, layers, units = declared(root)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    scratch_root = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    scratch = os.path.join(scratch_root, f"run-{os.getpid()}")

    def stop(*_):
        proc = running["proc"]
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        fail("interrupted")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    classpath, cds = build(root, cores, scratch_root)
    out = os.path.join(root, BENCH, "out")
    os.makedirs(out, exist_ok=True)
    result_file = os.path.join(out, "result.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    log = os.path.join(out, f"{tag}.log")
    t0 = time.time()
    try:
        rc = run_jvm(jvm(classpath, cores, scratch,
                         ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                          "--trace", str(a.trace), "--out", out], cds),
                     scratch, log, JVM_TIMEOUT_S)
        if rc is None:
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s; log in {log}")
        if rc != 0 or not os.path.exists(result_file):
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"benchmark JVM failed (exit {rc}); log in {log}")
        with open(result_file) as fh:
            result = json.load(fh)
        check = result.pop("check", None)
        if check:
            # the corpus answers against DuckDB, once per traced hunt run, after the JVM
            import oracle
            verdicts = oracle.check(check["tables"], check["answers"], check["queries"])
            with open(os.path.join(out, f"{tag}-oracle.json"), "w") as fh:
                json.dump(verdicts, fh, indent=1)
            wrong = [q for q, why in verdicts.items() if why]
            for q in wrong:
                print(f"perfbench: {q} differs from its oracle: {verdicts[q]}", file=sys.stderr)
            result["attempted"] += len(verdicts)
            result["failed"] += len(wrong)
            result["correct"] = result["correct"] and not wrong
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    # the metrics BENCHMARK.json declares for this kind of run, with its
    # units; a per-layer metric of a layer the workload bypasses reads 0
    got = result["metrics"]
    undeclared = sorted(set(got) - set(units))
    if undeclared:
        fail(f"metrics not declared in BENCHMARK.json: {undeclared}")
    missing = [k for k in e2e if k not in got]
    if missing:
        fail(f"end-to-end metrics not measured: {missing}")
    result["metrics"] = {k: {"value": got.get(k, 0.0), "unit": units[k]} for k in (layers if a.trace else e2e)}
    print(f"perfbench: {a.workload} seed {a.seed} done in {time.time() - t0:.1f}s", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
