#!/usr/bin/env python3
"""Run one perfbench workload and print its metrics.

    python3 perfbench/run.py --workload serve|batch --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the library
(src/main/scala) together with the benchmark (perfbench/scala) into
.bench_build/ with the Scala compiler that ships in Spark's jars; later
runs reuse the build while the sources are unchanged. The run then
starts one JVM, which writes a raw record that `harness.py` turns into
metrics. Every metric is printed as a `metric <name> <value> <unit>`
line; the last line of standard output is one JSON object with the
keys correct, attempted, failed and metrics: the end-to-end metrics
BENCHMARK.json gates (--trace 0) or every per-layer metric (--trace 1).
All files the run writes stay under .bench_build/.
"""
import argparse
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import harness  # noqa: E402

WORKLOADS = ("serve", "batch")
DEFAULT_SEED = 1
# A seed no tuning of the benchmark or the program has looked at; later
# performance claims are confirmed on it.
HOLDOUT_SEED = 20261017
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"
# Spark 4 on JDK 17 outside spark-submit needs these (the same list
# build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError("Spark jars not found: set SPARK_HOME")
    return jars


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                        "*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not lib:
        raise BenchError("library sources not found under src/main/scala")
    return lib + own


def build(jars):
    """Compile library + benchmark once per source digest."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    jar = os.path.join(BUILD, "perfbench.jar")
    archive = os.path.join(BUILD, "perfbench.jsa")
    stamp = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return jar
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    # an explicit compile classpath: scalac's default would add the
    # working directory, where perfbench/scala would shadow `scala`
    cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + BUILD, "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
           "-d", classes, "@" + argfile]
    rc, out = run_child(cmd, BUILD_TIMEOUT_S)
    if rc != 0:
        raise BenchError("build failed:\n" + out[-4000:])
    # one jar, so the class-data archive below can cover these classes
    # (the JVM archives classes from jars only)
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in files:
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    for stale in (archive,):
        if os.path.exists(stale):
            os.remove(stale)
    with open(stamp, "w") as f:
        f.write(digest)
    return jar


def run_child(cmd, timeout, stdout=subprocess.PIPE):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, stdout=stdout, stderr=subprocess.STDOUT,
                         start_new_session=True, cwd=ROOT, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        raise BenchError(f"timed out after {timeout}s: {cmd[0]}\n"
                         + (out or "")[-4000:])
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out or ""


def launch(jars, jar, args, out_path, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # Class-data sharing: the first run after a build records the classes
    # it loaded into an archive that later runs map instead of loading
    # Spark's classes one by one (JVM start-up only; no effect once
    # classes are loaded).
    archive = os.path.join(BUILD, "perfbench.jsa")
    cds = ("-XX:SharedArchiveFile=" + archive if os.path.exists(archive)
           else "-XX:ArchiveClassesAtExit=" + archive)
    # no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData", cds,
            "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] + opens + [
        "-Dspark.sql.codegen.cache.maxEntries=8192",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Djava.io.tmpdir=" + tmp,
        "-cp", jar + os.pathsep + os.path.join(jars, "*"),
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out_path])
    rc, out = run_child(cmd, timeout)
    if rc != 0 or not os.path.exists(out_path):
        raise BenchError(f"benchmark JVM exited {rc}:\n" + out[-4000:])
    with open(out_path) as f:
        return json.load(f)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def metric_line(name, value, unit):
    return f"metric {name} {value!r} {unit}"


def report(rec, spec, trace):
    """Print metric lines and return the result object."""
    if trace:
        values = harness.per_layer(rec)
        for name, row in harness.span_table(rec).items():
            print("span " + name + " " + json.dumps(row, sort_keys=True))
        declared = spec["per_layer"]
        units = harness.PER_LAYER
    else:
        values, info = harness.end_to_end(rec)
        for k, v in info.items():
            print(f"info {k} {v!r}")
        declared = spec["end_to_end"]
        units = harness.END_TO_END
    for name, v in values.items():
        print(metric_line(name, v, units[name][0]))
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared}
    for f in rec["failures"]:
        print("failure " + f)
    return {"correct": rec["failed"] == 0, "attempted": rec["attempted"],
            "failed": rec["failed"], "metrics": metrics}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.time()
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        spec = load_spec()
        jars = spark_jars()
        jar = build(jars)
        os.makedirs(os.path.join(BUILD, "out"), exist_ok=True)
        out_path = os.path.join(
            BUILD, "out", f"{args.workload}-trace{args.trace}.json")
        if os.path.exists(out_path):
            os.remove(out_path)
        built = time.time() - started
        timeout = RUN_TIMEOUT_S if built < 5 else max(RUN_TIMEOUT_S, 880 - built)
        rec = launch(jars, jar, args, out_path, work, timeout)
        result = report(rec, spec, args.trace == 1)
    except (BenchError, OSError, KeyError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
