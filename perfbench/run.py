#!/usr/bin/env python3
"""Pass-based benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload clearmap --seed 1 --seconds 20 --trace 0

The first run compiles the engine's and the harness's sources with scalac
into perfbench/.run/classes; later runs reuse them until a source changes.
Every run then starts one JVM in a fresh, empty temp directory, which is
deleted when the run ends. The JVM prints a details line
and the result object; the result object is the last line printed here.

    python3 perfbench/run.py --record --workload W

re-records perfbench/expected/W.tsv from two runs with different seeds; the
second run fails if the two disagree on any row count or schema.
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
RUN = os.path.join(HERE, ".run")
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("clearmap", "llm_data", "lake")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "2g"

# Spark on JDK 17 needs these when it is started outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

_child = None


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory the engine's build.sbt names as its unmanagedBase
    (the Spark distribution, which also ships the Scala compiler)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        fail(f"no Spark jars at {d!r} (build.sbt unmanagedBase, or $SPARK_HOME/jars)")
    return jars


def sources():
    """The engine's and the harness's main Scala sources."""
    found = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            found += [os.path.join(d, f) for f in sorted(files) if f.endswith(".scala")]
    return found


def source_stamp(srcs, jars):
    """Hash of the paths, sizes and mtimes of every build input."""
    h = hashlib.sha256()
    for p in [os.path.join(ROOT, "build.sbt")] + srcs + jars:
        st = os.stat(p)
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Compile the engine and the harness if any input changed since the
    last build; return the classpath.

    One scalac run over both source trees, with the Scala compiler from
    the Spark jar directory: the build needs no build tool, no dependency
    resolution and nothing outside the checkout but the JDK and those jars.
    """
    jars = spark_jars()
    srcs = sources()
    classes = os.path.join(RUN, "classes")
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources")] + jars)
    cache = os.path.join(RUN, "build.json")
    stamp = source_stamp(srcs, jars)
    if os.path.isfile(cache) and os.path.isdir(classes):
        with open(cache) as f:
            if json.load(f).get("stamp") == stamp:
                return cp
    compiler = [j for j in jars
                if re.match(r"scala-(compiler|library|reflect)-[0-9.]+\.jar$", os.path.basename(j))]
    if len(compiler) != 3:
        fail("the Spark jar directory holds no Scala compiler")
    os.makedirs(RUN, exist_ok=True)
    out = os.path.join(RUN, f"classes-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(RUN, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-d", out, "-classpath", os.pathsep.join(jars)] + srcs) + "\n")
    log = os.path.join(RUN, "build.log")
    with open(log, "w") as f:
        rc = run_child(["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={RUN}",
                        "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
                        "@" + argfile],
                       BUILD_TIMEOUT_S, cwd=RUN, stdout=f, stderr=subprocess.STDOUT)[0]
    if rc != 0:
        shutil.rmtree(out, ignore_errors=True)
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"build failed (exit {rc}); log in {log}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(out, classes)
    with open(cache, "w") as f:
        json.dump({"stamp": stamp}, f)
    return cp


def stop_child(*_):
    """Kill the running child's whole process group and wait for it."""
    if _child is not None and _child.poll() is None:
        try:
            os.killpg(_child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        _child.wait()


def run_child(cmd, timeout, **popen):
    """Run a child in its own process group; return (exit code, stdout)."""
    global _child
    _child = subprocess.Popen(cmd, stdin=subprocess.DEVNULL,
                              start_new_session=True, **popen)
    try:
        out, _ = _child.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop_child()
        fail(f"{cmd[0]} exceeded {timeout} s")
    finally:
        stop_child()
    return _child.returncode, out


def run_jvm(cp, jvm_args):
    """Run one harness JVM in a fresh temp dir; return its stdout lines."""
    os.makedirs(RUN, exist_ok=True)
    tmp = os.path.join(RUN, f"tmp-{os.getpid()}-{time.time_ns()}")
    os.makedirs(tmp)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "SPARK_LOCAL_DIRS", "_JAVA_OPTIONS",
                                "JAVA_TOOL_OPTIONS"))}
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # the driver and its block manager listen on loopback only
    env["SPARK_LOCAL_IP"] = "127.0.0.1"
    # -UsePerfData: the JVM would otherwise write hsperfdata under /tmp
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-cp", cp, "perfbench.Main", "--data", DATA] + jvm_args)
    try:
        rc, out = run_child(cmd, JVM_TIMEOUT_S, cwd=tmp, env=env,
                            stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        fail(f"harness JVM exited with {rc}")
    return out.splitlines()


def tagged(lines, tag):
    found = [l[len(tag) + 1:] for l in lines if l.startswith(tag + " ")]
    if not found:
        fail(f"harness printed no {tag} line")
    return json.loads(found[-1])


def record(cp, workload):
    """Expected outputs from two seeds; the harness fails if they disagree."""
    first = os.path.join(RUN, f"record-{workload}-1.tsv")
    dest = os.path.join(HERE, "expected", f"{workload}.tsv")
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    run_jvm(cp, ["--workload", workload, "--seed", "1", "--seconds", "0",
                 "--trace", "0", "--record", first])
    run_jvm(cp, ["--workload", workload, "--seed", "2", "--seconds", "0",
                 "--trace", "0", "--expected", first, "--record", dest])
    print(f"recorded {workload} to {dest}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="re-record the workload's expected outputs")
    args = ap.parse_args()

    for need in (os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join(DATA, "lineitem.parquet")):
        if not os.path.exists(need):
            fail(f"not a complete checkout: {need} is missing")
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, lambda *a: (stop_child(), sys.exit(1)))

    cp = classpath()
    if args.record:
        record(cp, args.workload)
        return
    expected = os.path.join(HERE, "expected", f"{args.workload}.tsv")
    if not os.path.isfile(expected):
        fail(f"no expected outputs at {expected}")
    trace_out = os.path.join(RUN, "traces", f"{args.workload}-seed{args.seed}.jsonl")
    lines = run_jvm(cp, ["--workload", args.workload, "--seed", str(args.seed),
                         "--seconds", str(args.seconds), "--trace", str(args.trace),
                         "--expected", expected]
                    + (["--trace-out", trace_out] if args.trace else []))
    details = tagged(lines, "PERFBENCH-DETAILS")
    result = tagged(lines, "PERFBENCH-RESULT")
    if args.trace:
        details["spans"] = os.path.relpath(trace_out, ROOT)
    print(json.dumps(details))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
