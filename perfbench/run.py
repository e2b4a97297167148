#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>
    python3 perfbench/run.py --workload all --seed <n> --seconds <n>

The program and the benchmark are compiled from source with sbt the first
time (or whenever a source file changes); the classpath is cached under
`.bench_build/`.  Each run starts one JVM that runs Spark at local[nproc],
prints progress on stderr and, as the last line of stdout, one JSON object
with the keys `correct`, `attempted`, `failed` and `metrics`.

`--trace 1` prints the per-layer metrics instead of the end-to-end ones and
writes the trace to `.bench_build/traces/`.  Its tracing overhead is taken
against the untraced result of the same workload and seed, which is run
first when this checkout has none.  `--workload all` runs every
workload untraced and prints the figures under their per-workload names.
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
WORKLOADS = ["fit-score", "score-stream", "corpus-maintain"]
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit; the same list as the program's own build.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def err(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file whose change requires a rebuild, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(fp):
    """Compile program + benchmark; return the runtime classpath."""
    cp_file = os.path.join(BUILD, f"classpath-{fp}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    err("building the program and the benchmark with sbt")
    env = dict(os.environ)
    # resolve from the local caches only, as the program's own test runs do
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx4g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln.strip() for ln in proc.stdout.splitlines() if ln.strip()]
    cp = lines[-1] if lines else ""
    if proc.returncode != 0 or "perfbench" not in cp or cp.startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    return cp


def jvm(cp, workload, seed, seconds, trace, extra=()):
    """Run one workload in a fresh JVM; return (exit code, stdout lines)."""
    work = os.path.join(BUILD, "work", workload)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", os.path.join(work, "run"),
        "--trace-dir", os.path.join(BUILD, "traces"), *extra]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        err(f"{workload} exceeded {RUN_TIMEOUT_S} s")
        return 1, []
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, [ln for ln in out.splitlines() if ln.strip()]


def parse(line):
    try:
        res = json.loads(line)
    except ValueError:
        return None
    return res if isinstance(res, dict) and "metrics" in res else None


def save(path, line):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(line)


def run_one(cp, fp, workload, seed, seconds, trace):
    """Run one workload; return (exit code, stdout lines). Untraced results
    are kept, so that traced runs can report their tracing overhead."""
    results = os.path.join(BUILD, "results", fp)
    mine = os.path.join(results, f"{workload}-{seed}-{seconds}.json")
    extra = []
    if trace:
        if not os.path.isfile(mine):
            err("no untraced result for this workload and seed yet: running it first")
            code, lines = jvm(cp, workload, seed, seconds, 0)
            if code != 0 or not lines or parse(lines[-1]) is None:
                return code or 1, []
            save(mine, lines[-1])
        extra = ["--untraced", mine]
    code, lines = jvm(cp, workload, seed, seconds, trace, extra)
    if not lines or parse(lines[-1]) is None:
        return code or 1, []
    if not trace and code == 0:
        save(mine, lines[-1])
    return code, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        err(f"the program's sources are missing under {ROOT}: nothing to benchmark")
        return 2
    fp = fingerprint()
    cp = build(fp)
    if a.workload != "all":
        code, lines = run_one(cp, fp, a.workload, a.seed, a.seconds, a.trace)
        if lines:
            print(lines[-1], flush=True)
        return code

    # every workload, untraced, under the per-workload metric names
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        code, lines = run_one(cp, fp, w, a.seed, a.seconds, 0)
        res = parse(lines[-1]) if lines else None
        named = [json.loads(ln[len("NAMED "):]) for ln in lines if ln.startswith("NAMED ")]
        if res is None:
            err(f"{w}: no result (exit {code})")
            total["correct"] = False
            continue
        total["correct"] &= bool(res["correct"]) and code == 0
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        print(f"{w}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}", flush=True)
        for name, m in (named[0] if named else {}).items():
            total["metrics"][f"{w}.{name}" if name == "setup_s" else name] = m
            print(f"  {name:<18} {m['value']:>14.6g} {m['unit']}", flush=True)
    print(json.dumps(total), flush=True)
    return 0 if total["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
