#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (into .bench_build and the sbt target
directories); later runs reuse the build while the sources are unchanged.
The run itself is one JVM (perfbench.Main) that generates the inputs from
the seed, measures the workload for --seconds, and checks every output.
With --trace 0 the record carries the end-to-end metrics of
BENCHMARK.json, with --trace 1 the per-layer metrics (and the spans go to
.bench_build/run/<workload>/spans.jsonl). The last line of standard
output is the JSON record; notes and sink digests come before it.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "classpath.stamp")
WORKLOADS = ("batch_parse", "batch_enrich", "daemon_kv", "query_mix")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# Spark on JDK 17 needs these outside spark-submit (the program's build
# passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            for f in fs if "target" not in os.path.relpath(d, r).split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".java", ".sbt", ".properties")) or "resources" in p:
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    digest = source_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return open(CLASSPATH).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building the program and the benchmark with sbt")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           f"-Dperfbench.cp={CLASSPATH}", "writeClasspath"]
    try:
        r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log("build timed out")
        sys.exit(3)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        log(f"build failed (exit {r.returncode})")
        sys.exit(3)
    with open(STAMP, "w") as f:
        f.write(digest)
    return open(CLASSPATH).read().strip()


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, a, work, record):
    # a fixed initial heap: no heap resizing between reps
    cmd = ["java", "-Xms1g", "-Xmx3g", "-XX:+UseG1GC",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--out", record, "--cores", str(cores())]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log("run timed out")
        return -1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log(f"the program's sources are missing ({need} not found next to perfbench/)")
            sys.exit(2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    cp = build()
    work = os.path.join(BUILD, "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record = os.path.join(work, "record.json")
    if a.workload == "query_mix":
        sys.dont_write_bytecode = True
        import mixdata
        mixdata.write_tables(os.path.join(work, "tables"), a.seed)
    code = run_jvm(cp, a, work, record)
    if not os.path.exists(record):
        log(f"no record written (JVM exit {code})")
        sys.exit(4)
    with open(record) as f:
        rec = json.load(f)
    if a.workload == "query_mix":
        checks = mixdata.check(os.path.join(work, "tables"), os.path.join(work, "results"),
                               mixdata.load_oracles(os.path.join(work, "oracles.json")))
        for q, ok, detail in checks:
            rec["attempted"] += 1
            if not ok:
                rec["failed"] += 1
                rec["correct"] = False
            rec.setdefault("notes", []).append(f"oracle {q}: {'ok' if ok else 'FAILED'} {detail}")
    # only the record and spans are kept; inputs and outputs are large
    for name in os.listdir(work):
        if name not in ("record.json", "spans.jsonl"):
            p = os.path.join(work, name)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)

    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    metrics = {}
    for m in wanted:
        got = rec["metrics"].get(m["name"])
        if got is None:
            # a layer this workload does not exercise
            metrics[m["name"]] = {"value": 0.0, "unit": m["unit"]}
        else:
            metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    for note in rec.get("notes", []):
        print(f"# {a.workload}: {note}")
    attempted, failed = int(rec["attempted"]), int(rec["failed"])
    print(json.dumps({"correct": bool(rec["correct"]) and failed == 0 and attempted > 0,
                      "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
