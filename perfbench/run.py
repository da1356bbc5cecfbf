#!/usr/bin/env python3
"""Run one benchmark measurement and print its metrics as one JSON line.

    python3 perfbench/run.py --workload kg_search --seed 7 --seconds 12 --trace 0

Run from the repository root. The first run builds the program and the
benchmark with sbt (offline); later runs reuse the build while no source
changed. The workload's inputs are generated from the seed before the JVM
starts; the JVM sets up, measures, and checks its outputs; this script
finishes the checks that need DuckDB and prints the result. With --trace 0
the line holds the end-to-end metrics, with --trace 1 the per-layer ones.
Per-op spans and counts go to perfbench/.work/detail/. The exit code is
non-zero when an output is wrong or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, ".build")
JSA = os.path.join(BUILD, "classes.jsa")
RUN_LIMIT_S = 175
# Workload sizes; BENCHMARK.json's "why" lines quote them.
SEARCH_DOCS, CDR_FILES, SEARCH_BLOCKS = 1000, 40, 60
TABLE_SCALE = 0.5
# A traced op's program and Spark spans must cover this share of its wall
# time; the rest is time no span accounts for.
MIN_SPAN_COVER = 0.9
# Spark 4 on JDK 17 outside spark-submit (as in the root build's javaOptions).
ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """Fingerprint of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "tools", "compare.py"))):
        fail("the program's sources are not next to the benchmark")
    stamp = sources_stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # sbt's socket and scratch files go under the build directory
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    with open(os.path.join(BUILD, "sbt.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspathAsJars"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           text=True, timeout=850)
        log.write(r.stdout)
    lines = [ln for ln in r.stdout.splitlines() if ln and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {os.path.relpath(BUILD, ROOT)}/sbt.log")
    if os.path.isfile(JSA):
        os.remove(JSA)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def generate(workload, seed, inp):
    rng = np.random.default_rng(seed)
    if workload == "kg_search":
        docs = gen.documents(rng, SEARCH_DOCS)
        gen.write(docs, f"{inp}/documents.parquet")
        gen.cdr_files(f"{inp}/cdr", docs, CDR_FILES)
        with open(f"{inp}/ops.tsv", "w") as f:
            f.write("\n".join(gen.search_ops(rng, SEARCH_BLOCKS)) + "\n")
    else:
        gen.cdr_files(f"{inp}/cdr", gen.tables(f"{inp}/tables", rng, TABLE_SCALE), CDR_FILES)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json is missing")
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    cp = build()
    import checks  # reads tools/compare.py, which build() found next to the benchmark

    t_start = time.time()
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(WORK, run_id)
    inp, out = os.path.join(run_dir, "input"), os.path.join(run_dir, "out")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in (inp, out, os.path.join(run_dir, "tmp"), os.path.join(WORK, "detail")):
        os.makedirs(d, exist_ok=True)
    t0 = time.time()
    generate(a.workload, a.seed, inp)
    generate_s = time.time() - t0

    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    # The first run after a build archives the classes it loads (class data
    # sharing); later runs map the archive, which shortens the JVM's and
    # Spark's start.
    cds = (f"-XX:SharedArchiveFile={JSA}" if os.path.isfile(JSA)
           else f"-XX:ArchiveClassesAtExit={JSA}")
    cmd = ["java", *ADD_OPENS, cds, "-Xlog:cds=off", "-Xlog:cds+dynamic=off", "-Xmx3g",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={run_dir}/tmp",
           "-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--input", inp, "--out", out]
    log_path = os.path.join(WORK, "detail", run_id + ".log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, cwd=out, env=env, stdout=log, stderr=subprocess.STDOUT,
                               timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            fail(f"run timed out, see {os.path.relpath(log_path, ROOT)}")
    res_path = os.path.join(out, "result.json")
    if r.returncode != 0 or not os.path.isfile(res_path):
        fail(f"run failed, see {os.path.relpath(log_path, ROOT)}")
    res = json.load(open(res_path))

    wrong, problems = 0, []
    if a.workload == "kg_search":
        wrong, problems = checks.search(f"{inp}/documents.parquet", f"{out}/search_checks.json")
    elif a.workload == "analytics_mix":
        wrong, problems = checks.analytics(f"{inp}/tables", f"{out}/analytics_checks.json")
    attempted = res["attempted"]
    failed = min(attempted, res["failed"] + wrong)
    values = dict(res["e2e"], ok_ratio=(attempted - failed) / attempted)
    values.update(res["per_layer"])
    values["harness.generate_s"] = generate_s
    kind = "per_layer" if a.trace else "end_to_end"
    missing = [m["name"] for m in spec[kind] if values.get(m["name"]) is None]
    if missing:
        fail(f"not measured: {', '.join(missing)}")
    if a.trace and values["trace.self_sum_ratio"] < MIN_SPAN_COVER:
        fail(f"spans cover only {values['trace.self_sum_ratio']:.3f} of an op's wall time")
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in spec[kind]}
    line = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    res.update(problems=problems, generate_s=generate_s, result=line)
    with open(os.path.join(WORK, "detail", run_id + ".json"), "w") as f:
        json.dump(res, f)
    shutil.rmtree(run_dir, ignore_errors=True)
    for p in problems:
        print(f"perfbench: wrong output: {json.dumps(p)}", file=sys.stderr)
    print(json.dumps(line))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
