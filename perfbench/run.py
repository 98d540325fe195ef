#!/usr/bin/env python3
"""The repo's benchmark: one command per workload, run from the repo root.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: ingest, stream_deliver, queries (see perfbench/NOTES.md). The first run builds the program and the harness from
source with sbt into .bench_build/; later runs reuse that build while the
sources are unchanged. Inputs are generated from --seed. The report goes to
stdout; its last line is one JSON object with `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with --trace 0, per-layer metrics
with --trace 1).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest", "stream_deliver", "queries")
SF = 0.01
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha1()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose bin/ on PATH has a jars/ directory beside it."""
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if (os.path.isfile(os.path.join(d, "spark-submit"))
                and glob.glob(os.path.join(home, "jars", "spark-core_*.jar"))):
            return home
    die("no Spark installation found: set SPARK_HOME", 3)


def classpath():
    """Compile with sbt when the sources changed; return the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            saved = json.load(fh)
        if saved.get("digest") == digest:
            return saved["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        env["SPARK_HOME"] = spark_home()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = [l for l in lines if os.pathsep in l and l.endswith(".jar") and not l.startswith("[")]
    if r.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die("build failed", 3)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp[-1]}, fh)
    return cp[-1]


def run_jvm(cp, args, work):
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness"] + args
    with open(os.path.join(work, "jvm.log"), "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"harness exceeded {JVM_TIMEOUT_S} s", 4)
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        elif line.startswith("[perfbench]"):
            print(line)
    if proc.returncode != 0 or result is None:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"harness exited with {proc.returncode}", 5)
    return result, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keys", help="comma-separated query keys instead of the workload's own")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the program's sources (src/main/scala/graft) are not here")

    cp = classpath()
    work = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work]
        query = a.workload == "queries"
        if query:
            sys.path.insert(0, HERE)
            import gen_tables
            data = os.path.join(work, "data")
            gen_s = []
            for _ in range(3):  # three set-ups; setup_s reports their median
                t0 = time.perf_counter()
                gen_tables.write(data, a.seed, SF)
                gen_s.append(time.perf_counter() - t0)
            args += ["--data", data, "--gen-s", ",".join(f"{g:.6f}" for g in gen_s)]
            if a.keys:
                args += ["--keys", a.keys]
        result, out = run_jvm(cp, args, work)
        failed = int(result["failed"])
        if query:
            import oracle_check
            keyruns = {}
            for line in out.splitlines():
                if line.startswith("[perfbench] keyruns "):
                    keyruns = json.loads(line[len("[perfbench] keyruns "):])
            t0 = time.perf_counter()
            verdict = oracle_check.check(ROOT, data, os.path.join(work, "results"), list(keyruns))
            for k, why in sorted(verdict.items()):
                print(f"[perfbench] oracle {k}: {'ok' if why is None else 'FAIL ' + why}")
                if why is not None and why != "no result":  # a missing result is counted already
                    failed += int(keyruns[k])
            print(f"[perfbench] oracle check took {time.perf_counter() - t0:.1f} s")
        if a.trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "trace.jsonl"),
                        os.path.join(BUILD, "traces", f"{a.workload}-s{a.seed}.jsonl"))
        attempted = int(result["attempted"])
        print(f"[perfbench] fail_frac={failed / max(1, attempted):.6f} ({failed} of {attempted})")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": result["metrics"]}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
