#!/usr/bin/env python3
"""Run one workload of the end-to-end benchmark and print its result.

    python3 perfbench/run.py --workload etl_month --seed 1 --seconds 20 --trace 0

Run from the root of a source tree. The first run builds the engine and the
harness from source with sbt (offline); later runs reuse the classpath until a
source file changes. Everything the run writes stays under `.bench_build/`.
The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}.
The full record (samples, environment, load average) is kept under
`.bench_build/results/`. Exits non-zero, without a result line, when the
source tree is incomplete, the build fails or the run errors; exits 1, after
the result line, when an output check failed.

    python3 perfbench/run.py --record-expectations

re-records `perfbench/expected/queries.json`, the committed fingerprints that
etl_month checks its report queries' results against.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import zipfile

sys.dont_write_bytecode = True  # keep the source tree clean
import inputs  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("etl_month", "corpus_cycle")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
PREPARE_TIMEOUT_S = 300

# Spark on JDK 17 outside spark-submit needs these; the same list as the
# engine's build.sbt javaOptions.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads from the source tree."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(base):
            files += [os.path.join(base, f) for f in os.listdir(base)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, dirs, names in os.walk(base):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(want):
    """Build the engine and the harness if the sources changed since the
    last build; return the runtime classpath, with the two class
    directories packed into jars (class-data sharing reads jars only)."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fc:
                    return fc.read().strip()
    # what the previous build left is stale now
    for stale in ("jars", "scaled", "cds"):
        shutil.rmtree(os.path.join(BUILD, stale), ignore_errors=True)
    log("building the engine and the harness (sbt, offline)")
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
            timeout=BUILD_TIMEOUT_S, text=True, start_new_session=True)
    except subprocess.TimeoutExpired:
        log("build timed out")
        sys.exit(2)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    sys.stderr.write(p.stdout)
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        log(f"build failed (exit {p.returncode})")
        sys.exit(2)
    jars = os.path.join(BUILD, "jars")
    os.makedirs(jars)
    entries = []
    for i, entry in enumerate(lines[-1].strip().split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(jars, f"{i}-{os.path.basename(os.path.dirname(os.path.dirname(entry)))}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for d, dirs, names in os.walk(entry):
                    dirs.sort()
                    for n in sorted(names):
                        f = os.path.join(d, n)
                        z.write(f, os.path.relpath(f, entry))
            entry = jar
        entries.append(entry)
    cp = os.pathsep.join(entries)
    with open(cp_file, "w") as fh:
        fh.write(cp + "\n")
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return cp


def commit():
    """The git commit of the source tree, when it is a git checkout."""
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return p.stdout.strip() if p.returncode == 0 else None


def cpu_ticks():
    """Aggregate CPU ticks from /proc/stat (empty where it does not exist)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_share(before, after):
    """Share of CPU time the hypervisor gave to other guests between two
    `cpu_ticks()` readings: high values mark a contended host."""
    if len(before) < 8 or len(after) < 8:
        return None
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) > 0 else None


def cpus():
    return len(os.sched_getaffinity(0))


def jvm(cp, main_args, work, timeout, extra=()):
    """Run perfbench.Main in its own process group, bounded by `timeout` seconds."""
    flags = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-XX:ReservedCodeCacheSize=512m",
        # a run is too short for the optimising compiler to settle: its
        # background compiles land at varying times and move every timing;
        # the client compiler alone warms up sooner and steadier
        "-XX:TieredStopAtLevel=1",
        # a fixed heap and young generation, so that peak RSS measures the
        # work rather than the collector's resizing decisions
        "-Xms3g", "-Xmx3g", "-Xmn1g",
        f"-Dderby.system.home={work}/derby",
        f"-Dderby.stream.error.file={work}/derby.log",
    ] + list(extra)
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(cpus()))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = ["java"] + flags + ["-cp", cp, "perfbench.Main", "--bench-dir", BENCH] + main_args
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {timeout} s")
        code = 124
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return code


def prepared(cp, want, work):
    """The seed-independent scaled corpus, made once per build."""
    cache = os.path.join(BUILD, "scaled", want[:16])
    if not os.path.isdir(cache):
        tmp = cache + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        log("scaling the corpus (once per build)")
        if jvm(cp, ["--prepare", tmp], work, PREPARE_TIMEOUT_S) != 0:
            log("input preparation failed")
            sys.exit(2)
        os.rename(tmp, cache)
    return cache


def run_args(workload, seed, seconds, trace, work, result):
    return ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--inputs", os.path.join(work, "inputs"),
            "--work", work, "--result", result]


def shared_archive(cp, want, workload, scaled):
    """JVM flags that map the class-data-sharing archive of `workload`,
    recorded once per build by an untimed warm-up of the workload: loading
    Spark's classes from it instead of from the jars takes seconds off
    every run's session start and warm-up."""
    archive = os.path.join(BUILD, "cds", f"{want[:16]}-{workload}.jsa")
    if not os.path.isfile(archive):
        os.makedirs(os.path.dirname(archive), exist_ok=True)
        work = os.path.join(BUILD, "work", f"cds-{workload}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        log(f"recording the class-data archive of {workload} (once per build)")
        try:
            inputs.write(workload, scaled, os.path.join(work, "inputs"), 0)
            code = jvm(cp, run_args(workload, 0, 0, 0, work, os.path.join(work, "result.json"))
                       + ["--warmup-only", "1"],
                       work, PREPARE_TIMEOUT_S, [f"-XX:ArchiveClassesAtExit={archive}.tmp"])
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if code != 0 or not os.path.isfile(archive + ".tmp"):
            log("recording the class-data archive failed")
            sys.exit(2)
        os.rename(archive + ".tmp", archive)
    return [f"-XX:SharedArchiveFile={archive}"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expectations", action="store_true")
    a = ap.parse_args()
    if not a.record_expectations and a.workload is None:
        ap.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log(f"no engine sources under {ROOT}: run from the root of a source tree")
        sys.exit(2)

    workload = "etl_month" if a.record_expectations else a.workload
    want = stamp()
    cp = build(want)
    tag = f"{workload}-{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    results = os.path.join(BUILD, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(results, exist_ok=True)
    result = os.path.join(results, f"{tag}.json")
    try:
        scaled = prepared(cp, want, work)
        if a.record_expectations:
            extra, timeout, more = [], PREPARE_TIMEOUT_S, ["--record", "1"]
        else:
            extra, timeout, more = shared_archive(cp, want, workload, scaled), RUN_TIMEOUT_S, []
        inputs.write(workload, scaled, os.path.join(work, "inputs"), a.seed)
        ticks = cpu_ticks()
        code = jvm(cp, run_args(workload, a.seed, a.seconds, a.trace, work, result) + more,
                   work, timeout, extra)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        log(f"benchmark process exited with {code}")
        sys.exit(2)
    if a.record_expectations:
        return
    with open(result) as fh:
        rec = json.load(fh)
    rec["environment"]["source_stamp"] = want
    rec["environment"]["commit"] = commit()
    rec["environment"]["cpu_steal_share"] = steal_share(ticks, cpu_ticks())
    with open(result, "w") as fh:
        json.dump(rec, fh)
    log(f"record: {result}")
    if not rec["correct"]:
        for f in rec["failures"]:
            log(f"check failed: {f}")
    print(rec["result"], flush=True)
    sys.exit(0 if rec["correct"] else 1)


if __name__ == "__main__":
    main()
