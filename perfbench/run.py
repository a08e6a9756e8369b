#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark program from the checkout's sources
(sbt, once per source change, into .bench_build/), runs the workload in
one JVM at local[nproc], and prints one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics of a traced run
(and writes its span file). The full result, stamped with the commit,
nproc, heap size and seed, goes to perfbench/results/<workload>/.

Record mode (`--record-digests`) runs every query once, dumps the
outputs where tools/check_oracle.py can verify them, and rewrites
perfbench/digests/query_suite.json.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
# The layers each workload calls into. A traced run must report every
# per-layer metric of these layers; the metrics of the other layers read
# 0, because the run made no call into them.
LAYERS = {
    "query_suite": {"engine", "trace", "queries", "operators",
                    "TrainingPipeline"},
    "egal_ingest": {"engine", "trace", "streaming", "ops", "sources",
                    "generator"},
}
HEAP = "4g"
# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JAVA_TIMEOUT_S = 170
RECORD_TIMEOUT_S = 3600


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    """Every file the build reads, in a stable order."""
    out = []
    for top in (os.path.join(root, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files]
    out += [os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project", "build.properties")]
    return sorted(out)


def source_stamp(root):
    h = hashlib.sha256()
    for p in sources(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, work):
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(work, "classpath.txt")
    stamp_file = os.path.join(work, "source.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    os.makedirs(work, exist_ok=True)
    log = os.path.join(work, "build.log")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.forcestart=false", "compile",
           "export Runtime/fullClasspath"]
    with open(log, "w") as f:
        rc = subprocess.run(cmd, cwd=BENCH, stdout=f, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if "scala-2.13/classes" in l and ".jar" in l
           and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (rc={rc}), log in {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip(), stamp


def commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def java(classpath, work, args, log, timeout=JAVA_TIMEOUT_S):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap, so that heap growth is no part of any timed phase
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"timed out after {timeout} s, log in {log}")
    if proc.returncode != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"benchmark exited with {proc.returncode}, log in {log}")
    return out


def with_units(root, workload, trace, values):
    """The metrics BENCHMARK.json lists for this mode, each with its
    value and unit."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    names = {m["name"] for m in spec}
    owed = {m["name"] for m in spec
            if not trace or m["name"].split(".")[0] in LAYERS[workload]}
    if not owed <= values.keys() <= names:
        fail("metrics differ from BENCHMARK.json: missing "
             f"{sorted(owed - values.keys())}, unknown "
             f"{sorted(values.keys() - names)}")
    return {m["name"]: {"value": values.get(m["name"], 0.0),
                        "unit": m["unit"]} for m in spec}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(LAYERS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no engine sources under src/main/scala/graft; "
             "run from the root of a checkout")
    work = os.path.join(root, ".bench_build", "perfbench")
    data = os.path.join(BENCH, "data")
    classpath, stamp = build(root, work)
    logs = os.path.join(work, "logs")
    os.makedirs(logs, exist_ok=True)

    if a.record_digests:
        dump = os.path.join(work, "digest-dump")
        java(classpath, work, ["--record", dump, "--data", data, "--digests",
                               os.path.join(BENCH, "digests",
                                            "query_suite.json")],
             os.path.join(logs, "record.log"), timeout=RECORD_TIMEOUT_S)
        print(f"outputs dumped to {dump}; verify them with "
              f"python3 tools/check_oracle.py {data}/sf0.01 {dump}")
        return
    if None in (a.workload, a.seed, a.seconds, a.trace):
        fail("--workload, --seed, --seconds and --trace are required")

    tag = f"seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    results = os.path.join(BENCH, "results", a.workload)
    os.makedirs(results, exist_ok=True)
    spans = os.path.join(results, f"{tag}-spans.json")
    out = java(classpath, work,
               ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", data, "--work", os.path.join(work, a.workload),
                "--spans", spans],
               os.path.join(logs, f"{a.workload}-{tag}.log"))
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        fail("the benchmark printed no result")
    full = json.loads(lines[-1])
    full["metrics"] = with_units(root, a.workload, a.trace, full["metrics"])
    full["stamp"] = {
        "commit": commit(root), "source_sha256": stamp,
        "nproc": os.cpu_count(), "heap": HEAP, "seed": a.seed,
        "workload": a.workload, "seconds": a.seconds, "trace": a.trace,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(full, f, indent=1)
        f.write("\n")
    print(json.dumps({k: full[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
