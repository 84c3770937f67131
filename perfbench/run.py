#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <serve_mix|offline_build>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine and the
harness with the Scala compiler of the Spark distribution into
`.bench_build/`; later runs reuse the build while the sources are
unchanged. Each run generates its inputs from the
seed into a private dir under `.bench_run/`, runs one workload in one JVM,
checks the outputs, removes the dir, and prints one JSON line last on
stdout. README.md describes the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
FIXTURE = os.path.join(ROOT, "fixtures", "u_item_utf8.csv")
WORKLOADS = ("serve_mix", "offline_build")
RUN_LIMIT_S, FIRST_RUN_LIMIT_S = 170, 880

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: the engine's only libraries, and the
    Scala compiler the build uses."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        fail("no Spark jars found: set SPARK_HOME")
    return jars


def sources():
    """Every Scala source the build compiles: the engine's and the harness's."""
    files = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, fs in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs) if f.endswith(".scala")]
    return files


def build(deadline):
    """Compiles the engine and the harness with scalac, unless a digest of
    the sources and the jars matches the last build; returns the classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in jars:
        h.update(os.path.basename(f).encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD_DIR, "classes")
    stamp_f = os.path.join(BUILD_DIR, "stamp")
    cp = os.pathsep.join([classes] + jars)
    if os.path.exists(stamp_f) and open(stamp_f).read() == stamp:
        return cp
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    out = os.path.join(BUILD_DIR, "classes.tmp")
    os.makedirs(out)
    with open(os.path.join(BUILD_DIR, "sources.txt"), "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[^/]*\.jar$", j)]
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD_DIR}", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-deprecation", "-feature",
           "-classpath", os.pathsep.join(jars), "-d", out,
           "@" + os.path.join(BUILD_DIR, "sources.txt")]
    log = os.path.join(BUILD_DIR, "scalac.log")
    with open(log, "w") as f:
        code = run_bounded(cmd, ROOT, dict(os.environ), f, deadline)
    if code != 0:
        tail = open(log, encoding="utf-8", errors="replace").read().splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"build failed (exit {code}); log in {log}")
    os.rename(out, classes)
    with open(stamp_f, "w") as f:
        f.write(stamp)
    return cp


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def run_bounded(cmd, cwd, env, out, deadline):
    """Runs cmd in its own process group; kills the group at the deadline.
    Returns the exit code (None when killed)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# Spark 4 on JDK 17 outside spark-submit needs these (the engine's
# build.sbt passes the same list to its own forked runs).
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def jvm(cp, args, rundir, cores, deadline):
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp)
    cmd = [java(), "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={rundir}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--dir", rundir,
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--cores", str(cores)]
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_PROF", None)  # the engine's own profiling stays off
    log = os.path.join(rundir, "jvm.log")
    with open(log, "w") as out:
        code = run_bounded(cmd, ROOT, env, out, deadline)
    if code != 0:
        tail = open(log, encoding="utf-8", errors="replace").read().splitlines()[-60:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"{args.workload} JVM " + ("timed out" if code is None else f"exited {code}"))
    with open(os.path.join(rundir, "result.json")) as f:
        return json.load(f)


def generate(workload, seed, rundir):
    if workload == "serve_mix":
        gen.movielens(seed, os.path.join(rundir, "ml"), FIXTURE, ratings=False)
        gen.requests(seed, rundir, FIXTURE)
    else:
        gen.movielens(seed, os.path.join(rundir, "ml"), FIXTURE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    # a terminated run still stops its compiler or JVM and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in (os.path.join("src", "main", "scala", "graft"), FIXTURE):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from the root of a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    built = os.path.exists(os.path.join(BUILD_DIR, "stamp"))
    deadline = t_start + (RUN_LIMIT_S if built else FIRST_RUN_LIMIT_S)
    cp = build(deadline)

    cores = len(os.sched_getaffinity(0))
    rundir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    try:
        t0 = time.time()
        generate(args.workload, args.seed, rundir)
        t1 = time.time()
        res = jvm(cp, args, rundir, cores, deadline)
        t2 = time.time()
        errors = checks.check(args.workload, rundir, FIXTURE)
        walls = {"gen_s": t1 - t0, "jvm_s": t2 - t1, "check_s": time.time() - t2,
                 "compile_s": t0 - t_start}
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    for e in errors[:20]:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    want = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = res["metrics"]
    if args.trace:
        # a layer this workload never calls into did no work on it
        for m in want:
            got.setdefault(m["name"], 0.0)
    else:
        got["setup_s"] += walls["gen_s"]
    missing = [m["name"] for m in want if m["name"] not in got]
    if missing:
        fail(f"metrics not produced: {missing}")
    detail = dict(res["detail"], walls=walls, workload=args.workload, seed=args.seed, trace=args.trace)
    print("detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps({
        "correct": not errors,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in want},
    }))
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
