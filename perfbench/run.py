#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload asr_worker --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source (perfbench/build.py),
makes the workload's inputs from the seed, runs one closed-loop
benchmark process (perfbench.Main) and, for corpus_curation, checks
the query outputs against their DuckDB oracle with
scripts/oracle_check.py. The last stdout line is the result object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
A full record (host fingerprint, per-pass times, digests) is kept in
.bench_build/records/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import corpus  # noqa: E402

WORKLOADS = ["asr_worker", "corpus_curation"]
HERE = os.path.dirname(os.path.abspath(__file__))

# JDK 17 module openings Spark needs outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir("src/main/scala"):
        sys.exit("perfbench: run from the repository root (no src/main/scala here)")
    classes, digest = build.build()

    root = os.path.abspath(build.BUILD)
    work = os.path.join(root, "work", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = work
    if a.workload == "corpus_curation":
        data = os.path.join(work, "data")
        corpus.generate(data, a.seed)

    jars = os.path.join(build.spark_jars(), "*")
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{os.path.abspath(classes)}:{jars}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--data", data,
            "--golden", os.path.join(HERE, "golden.json")]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    lines = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        sys.exit(f"perfbench: harness exited {r.returncode} without a result")
    result = json.loads(lines[-1])
    code = r.returncode

    if a.workload == "corpus_curation":
        out = os.path.join(work, "out")
        last = sorted((d for d in os.listdir(out) if d.startswith("p")),
                      key=lambda d: int(d[1:]))[-1]
        chk = subprocess.run(
            [sys.executable, "scripts/oracle_check.py", data,
             os.path.join(out, last), "--only", ",".join(corpus.QUERIES)],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        bad = [ln for ln in chk.stdout.splitlines() if ln.startswith("FAIL")]
        ok = [ln for ln in chk.stdout.splitlines() if ln.startswith("OK")]
        if chk.returncode != 0 or bad or len(ok) != len(corpus.QUERIES):
            sys.stderr.write(chk.stdout)
            result["correct"] = False
            result["failed"] = min(result["attempted"],
                                   result["failed"] + max(1, len(bad)))
            code = code or 1

    rec_path = os.path.join(work, "record.json")
    if os.path.exists(rec_path):
        rec = json.load(open(rec_path))
        rec["host"]["source_digest"] = digest
        rec["host"]["commit"] = commit()
        rec["correct"] = result["correct"]
        os.makedirs(os.path.join(root, "records"), exist_ok=True)
        with open(os.path.join(root, "records",
                               f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as fh:
            json.dump(rec, fh, indent=1)
    print(json.dumps(result))
    sys.exit(code)


def commit():
    if not os.path.isdir(".git"):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "unknown"


if __name__ == "__main__":
    main()
