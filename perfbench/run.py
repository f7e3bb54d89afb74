#!/usr/bin/env python3
"""Benchmark of the CSV -> parquet -> s3a pipeline and a query mix.

Run from the root of a checkout:

    python3 perfbench/run.py --workload convert_bulk --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15

The first call compiles the program (`src/main/scala`) and the harness
(`perfbench/src`) with the Scala compiler shipped among the Spark jars
named by `build.sbt`, into `.bench_build/`; later calls reuse that build
while the sources are unchanged. Each run is one JVM that writes its
inputs, logs and outputs under `.bench_build/` only.

With `--trace 0` the last line of standard output is one JSON object
holding the end-to-end metrics of BENCHMARK.json; with `--trace 1`, the
per-layer metrics (0 where a layer is not used by the workload).
`--workload all` runs every workload untraced and traced, prints every
metric with its unit and the tracing overhead, and ends with one JSON
object over all workloads. The exit code is 0 only when every output
check passed.
"""

import argparse
import hashlib
import json
import os
import re
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SPEC = os.path.join(ROOT, "BENCHMARK.json")
HASHES = os.path.join(HERE, "query_hashes.json")
JVM_TIMEOUT_S = 170
# Run by hand only: the per-file convert path needs more run time than
# the measured set can spend on it.
EXTRA_WORKLOADS = ["convert_many_files"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_setting(pattern):
    """A value from build.sbt, which names the Spark jars and Scala version."""
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        die("no build.sbt: run from the root of a checkout of the program")
    m = re.search(pattern, open(path).read())
    if not m:
        die(f"build.sbt has no setting matching {pattern}")
    return m.group(1)


def sources(top):
    found = []
    for d, _, names in os.walk(top):
        found += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(found)


def compile_scala(jars, scala_version, classpath, files, out, log):
    tool = [os.path.join(jars, f"scala-{p}-{scala_version}.jar")
            for p in ("compiler", "library", "reflect")]
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-cp", ":".join(tool), "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath, "@" + argfile]
    with open(log, "a") as lf:
        rc = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"compilation failed (log: {log})")


def build():
    """Compiles program and harness once per source state."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        die("no src/main/scala: run from the root of a checkout of the program")
    jars = os.environ.get("PERFBENCH_SPARK_JARS") or build_setting(
        r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')
    scala_version = build_setting(r'scalaVersion\s*:=\s*"([^"]+)"')
    if not os.path.isdir(jars):
        die(f"Spark jars directory {jars} not found")
    prog, bench = sources(main_src), sources(os.path.join(HERE, "src"))
    digest = hashlib.sha256()
    for path in prog + bench:
        digest.update(path.encode() + b"\0" + open(path, "rb").read())
    out = os.path.join(BUILD, "classes-" + digest.hexdigest()[:16])
    classes = [os.path.join(out, "bench"), os.path.join(out, "main"),
               os.path.join(ROOT, "src", "main", "resources"),
               os.path.join(jars, "*")]
    if not os.path.exists(os.path.join(out, "ok")):
        os.makedirs(BUILD, exist_ok=True)
        log = out + ".log"
        compile_scala(jars, scala_version, classes[3], prog, classes[1], log)
        compile_scala(jars, scala_version, ":".join(classes[1:]), bench,
                      classes[0], log)
        open(os.path.join(out, "ok"), "w").close()
    return ":".join(classes)


def run_jvm(classpath, workload, seed, seconds, trace, record=None):
    """Runs one measurement JVM; returns its result object."""
    logs = os.path.join(BUILD, "logs")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(logs, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(BUILD, "result.json")
    if os.path.exists(result):
        os.remove(result)
    tag = f"{workload}-seed{seed}-trace{trace}"
    # No perf-data file in the system temporary directory.
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Dperfbench.log={os.path.join(logs, tag + '.spark.log')}",
        f"-Djava.io.tmpdir={tmp}",
        "-cp", classpath, "perfbench.Main",
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--work", os.path.join(BUILD, "work", workload),
        "--result", result,
    ]
    cmd += ["--record-hashes", record] if record else ["--hashes", HASHES]
    out_log = os.path.join(logs, tag + ".out")
    with open(out_log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                cwd=ROOT, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"{workload} did not finish in {JVM_TIMEOUT_S} s "
                f"(log: {out_log})")
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(open(out_log).read()[-4000:])
        die(f"{workload} exited with {rc} (log: {out_log})")
    return json.load(open(result))


def shaped(raw, wanted):
    """The result with exactly the metrics BENCHMARK.json lists."""
    names = {m["name"] for m in wanted}
    extra = set(raw["metrics"]) - names
    if extra:
        die(f"metrics missing from BENCHMARK.json: {sorted(extra)}")
    metrics = {}
    for m in wanted:
        got = raw["metrics"].get(m["name"])
        metrics[m["name"]] = {"value": got["value"] if got else 0,
                              "unit": m["unit"]}
    return {"correct": raw["correct"], "attempted": raw["attempted"],
            "failed": raw["failed"], "metrics": metrics}


def table(title, result):
    print(f"== {title}: correct={result['correct']} "
          f"attempted={result['attempted']} failed={result['failed']}")
    for name, m in result["metrics"].items():
        print(f"  {name:44s} {m['value']:>16.6g} {m['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-hashes", metavar="FILE",
                    help="write the query_mix result hashes to FILE")
    args = ap.parse_args()
    if not os.path.isfile(SPEC):
        die("no BENCHMARK.json at the checkout root")
    spec = json.load(open(SPEC))
    workloads = [w["name"] for w in spec["workloads"]]
    known = workloads + EXTRA_WORKLOADS
    if args.workload != "all" and args.workload not in known:
        die(f"unknown workload {args.workload}; choose from {known} or all")
    classpath = build()

    if args.workload != "all":
        raw = run_jvm(classpath, args.workload, args.seed, args.seconds,
                      args.trace, args.record_hashes)
        result = shaped(raw, spec["per_layer" if args.trace else "end_to_end"])
        table(f"{args.workload} trace={args.trace}", result)
        print(json.dumps(result))
        sys.exit(0 if result["correct"] else 1)

    overall = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in workloads:
        for trace in (0, 1):
            result = shaped(run_jvm(classpath, w, args.seed, args.seconds,
                                    trace),
                            spec["per_layer" if trace else "end_to_end"])
            table(f"{w} trace={trace}", result)
            overall["correct"] &= result["correct"]
            overall["attempted"] += result["attempted"]
            overall["failed"] += result["failed"]
            if trace == 0:
                for name, m in result["metrics"].items():
                    overall["metrics"][f"{w}.{name}"] = m
            else:
                m = result["metrics"]["trace.overhead_share"]
                print(f"  tracing overhead on {w}: "
                      f"{100 * m['value']:+.1f} % of batch time")
                overall["metrics"][f"{w}.trace.overhead_share"] = m
    print(json.dumps(overall))
    sys.exit(0 if overall["correct"] else 1)


if __name__ == "__main__":
    main()
