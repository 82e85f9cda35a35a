#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload olap_adhoc --seed 1 --seconds 10 --trace 0

The first call in a checkout builds the engine and the harness with sbt
(cached in .bench_build/ until a source file changes). The JVM runs the
workload and writes its metrics; this script then compares the sampled
query results with the DuckDB oracles through tools/compare.py, and
prints one JSON object with keys correct, attempted, failed and metrics:
the end-to-end metrics with --trace 0, the per-layer metrics of a traced
run with --trace 1. It exits 0 only when every check passed.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["olap_adhoc", "corpus_curate", "sbom_ingest", "vector_search"]
# a run must end within 180 s of its start (build time aside)
RUN_BUDGET_S = 170
ORACLE_TIMEOUT_S = 20
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources_fingerprint():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + harness; return the runtime classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    fp_file = os.path.join(WORK, "build.fp")
    fp = sources_fingerprint()
    if os.path.exists(cp_file) and os.path.exists(fp_file) and open(fp_file).read() == fp:
        return open(cp_file).read().strip()
    log("building engine and harness with sbt")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    lines = out.stdout.strip().splitlines()
    cp = lines[-1].strip() if lines else ""
    if out.returncode != 0 or "perfbench" not in cp or ".jar" not in cp:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(fp_file, "w") as fh:
        fh.write(fp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def oracle_check(data_dir, out_dir):
    """DuckDB comparison of the sampled query results; True when all match."""
    res = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare.py"),
                          data_dir, out_dir],
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=ORACLE_TIMEOUT_S)
    for line in res.stdout.strip().splitlines():
        print(f"[oracle] {line}")
    return res.returncode == 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    for need in ["build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("tools", "compare.py")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"not a graft checkout: {need} is missing under {ROOT}")

    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cp = build()
    deadline = time.time() + RUN_BUDGET_S

    r = run_jvm(cp, a, deadline)
    print(f"[run.py] calibration {json.dumps(r['calibration'])}")
    correct = r["correct"]
    for data_dir, out_dir in r["oracle"]:
        correct = oracle_check(data_dir, out_dir) and correct
    print(f"[run.py] output checks: {'pass' if correct else 'FAIL'}")
    print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": r["layers"] if a.trace == "1" else r["e2e"]}))
    sys.exit(0 if correct else 1)


def run_jvm(cp, a, deadline):
    """The workload run in a fresh JVM; returns its result record."""
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace, "--work", WORK]
    result_file = os.path.join(WORK, f"result-{a.workload}-s{a.seed}-t{a.trace}.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    log_file = os.path.join(WORK, f"jvm-{a.workload}-s{a.seed}-t{a.trace}.log")
    timeout = max(1, deadline - time.time() - ORACLE_TIMEOUT_S)
    with open(log_file, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"workload ran out of time after {timeout:.0f} s; see {log_file}")
    sys.stdout.write(out)
    if proc.returncode != 0 or not os.path.exists(result_file):
        with open(log_file) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"workload exited with {proc.returncode}")
    with open(result_file) as fh:
        return json.load(fh)


if __name__ == "__main__":
    main()
