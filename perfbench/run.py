#!/usr/bin/env python3
"""graft benchmark: one command that builds the program from source, makes
seeded inputs, runs one workload for a fixed time, checks its outputs and
prints its metrics as one JSON object on the last stdout line.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 12 --trace 0

Run it from the repository root. `--trace 0` prints the end-to-end metrics
named in BENCHMARK.json, `--trace 1` the per-layer ones. Exits non-zero
when the build fails, the run fails, or a check finds a wrong output.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

BUILD = os.path.join(HERE, "_build")
DATA = os.path.join(HERE, "_data")
RUNS = os.path.join(HERE, "_runs")
MAIN = "org.apache.spark.sql.perfbench.Main"
DEADLINE_S = 170  # whole-run budget for one measured run, build excluded
KEEP_DATA = 3     # cached input sets kept per workload

# Spark 4 on JDK 17 outside spark-submit needs these opens
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jar directory the project's own build compiles against
    (`unmanagedBase` in build.sbt), else $SPARK_HOME/jars."""
    jars = None
    if os.path.exists("build.sbt"):
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m and m.group(1)
    if not jars and "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not jars or not os.path.isdir(jars):
        fail("Spark jars not found (set unmanagedBase in build.sbt or SPARK_HOME)")
    return jars


def sources(d):
    out = []
    for base, _, names in os.walk(d):
        out += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def digest(paths, salt=""):
    h = hashlib.sha256(salt.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(srcs, classpath, dest, log):
    """Compile with the Scala compiler that ships among Spark's jars."""
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars + "/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", ":".join([jars + "/*"] + classpath),
           "@" + argfile]
    with open(log, "w") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT)
    os.remove(argfile)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed, see %s" % log)
    os.rename(tmp, dest)


def build(root):
    """Compile the program and the harness once per source version; later
    runs reuse the classes."""
    src = os.path.join(root, "src", "main", "scala")
    graft = sources(src)
    if not graft:
        fail("no program sources under %s" % src)
    harness = sources(os.path.join(HERE, "harness"))
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        gkey = digest(graft)
        gdir = os.path.join(BUILD, "graft-" + gkey)
        hdir = os.path.join(BUILD, "harness-" + digest(harness, gkey))
        for name in os.listdir(BUILD):
            p = os.path.join(BUILD, name)
            if os.path.isdir(p) and p not in (gdir, hdir):
                shutil.rmtree(p)
        if not os.path.isdir(gdir):
            scalac(graft, [], gdir, os.path.join(BUILD, "graft.log"))
        if not os.path.isdir(hdir):
            scalac(harness, [gdir], hdir, os.path.join(BUILD, "harness.log"))
    return [gdir, hdir]


def inputs_for(workload, seed):
    """Generated inputs, cached per (workload, seed, generator version)."""
    import gen
    d = os.path.join(DATA, "%s-%d-%s" % (workload, seed, digest([gen.__file__])[:8]))
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, tmp, seed)
        os.rename(tmp, d)
        cached = sorted((p for p in os.listdir(DATA) if p.startswith(workload + "-")
                         and not p.endswith(".tmp")),
                        key=lambda p: os.path.getmtime(os.path.join(DATA, p)))
        for old in cached[:-KEEP_DATA]:
            shutil.rmtree(os.path.join(DATA, old), ignore_errors=True)
    with open(os.path.join(d, "truth.json")) as f:
        return d, json.load(f)


def cores():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def run_jvm(classpath, workload, inputs, out, seconds, trace, started):
    os.makedirs(os.path.join(out, "tmp"))
    cmd = ["java", "-Xmx3g", "-Xss4m", "-Djava.io.tmpdir=" + os.path.join(out, "tmp"),
           "-Dderby.system.home=" + out]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", ":".join(classpath + [spark_jars() + "/*"]), MAIN,
            "--workload", workload, "--inputs", inputs, "--out", out,
            "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores())]
    t0 = time.time()
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd + ["--t0", repr(t0)], stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            fail("workload %s exceeded the run budget, see %s/jvm.log" % (workload, out), 1)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        fail("workload %s failed (exit %d), see %s/jvm.log" % (workload, rc, out), 1)
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def end_to_end(res):
    med = statistics.median
    return {
        "setup_s": res["setup_s"],
        "shuffle_mb": med(res["shuffle_bytes"]) / 1048576.0,
        "disk_mb": med(res["disk_bytes"]) / 1048576.0,
        "jobs": med(res["jobs"]),
        "tasks": med(res["tasks"]),
    }


def per_layer(res):
    med = statistics.median
    vals = dict(res["layers"])
    wall = med(res["round_s"])
    vals.update({
        "run.wall_s": wall,
        "run.items_per_s": res["items"] / wall,
        "run.cpu_s": med(res["cpu_s"]),
        "run.task_cpu_s": med(res["task_cpu_s"]),
        "run.setup_cpu_s": res["setup_cpu_s"],
        "run.peak_rss_mb": res["peak_rss_mb"],
    })
    return vals


def main():
    # a terminated benchmark still stops its JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail("unknown workload %s" % a.workload)
    classpath = build(root)

    import checks
    started = time.time()
    inputs, truth = inputs_for(a.workload, a.seed)
    out = os.path.join(RUNS, "%s-t%d" % (a.workload, a.trace))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    res = run_jvm(classpath, a.workload, inputs, out, a.seconds, a.trace, started)
    with open(os.path.join(out, "check", a.workload + ".json")) as f:
        produced = json.load(f)
    failures = checks.CHECKERS[a.workload](produced, inputs, truth)
    for msg in failures:
        print("check failed: " + msg, file=sys.stderr)
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump({"seed": a.seed, "inputs": inputs, "failures": failures}, f)

    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = per_layer(res) if a.trace else end_to_end(res)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    print(json.dumps({"correct": not failures, "attempted": len(res["round_s"]),
                      "failed": 0, "metrics": metrics}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
