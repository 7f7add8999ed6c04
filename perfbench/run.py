#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload serve_warm --seed 1 --seconds 6 --trace 0

Run from the repository root. The first run builds graft and the
benchmark with sbt (offline) into the build directory (CARGO_TARGET_DIR,
default .bench_build) and copies the fixture tables there; later runs
reuse both until a source file changes. Each run then starts
one JVM that sets up, measures for --seconds and checks its outputs.

Prints a table of every metric with its unit, then, as the last line of
standard output, one JSON object with the keys correct, attempted,
failed and metrics: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. Exits non-zero without that line when
graft or the toolchain is missing, the build fails or the run breaks.
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

# serve_* are the workloads BENCHMARK.json lists; batch_* are run by hand
WORKLOADS = ["serve_warm", "serve_cold", "batch_curate", "batch_index_rw"]
# graft's sf0.1 documents and embeddings tables, as committed
FIXTURE = os.path.join(HERE, "fixture")
# development seeds, then the seeds for confirming a claim
RECORDED_SEEDS = list(range(1, 11)) + list(range(101, 111))
JVM_TIMEOUT_S = 170
# the hand-run batch suites take a minute or more per pass
BATCH_TIMEOUT_S = 900
# the first run after a build also writes the class-data sharing archive,
# without one to read: it may take longer (the build budget covers it)
JVM_FIRST_TIMEOUT_S = 400
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs the module opens that
# spark-submit would inject (the list graft's build.sbt uses for run/test)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src", "perfbench"):
        base = os.path.join(ROOT, top)
        paths = [base] if os.path.isfile(base) else [
            os.path.join(d, f) for d, dirs, files in os.walk(base)
            if "target" not in os.path.relpath(d, ROOT).split(os.sep)
            for f in files]
        for p in sorted(paths):
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build(build_dir):
    """Compiles graft and the benchmark; returns the runtime classpath."""
    stamp = os.path.join(build_dir, "classpath.txt")
    digest = source_hash()
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp):
            with open(stamp) as f:
                got, cp = f.read().split("\n", 1)
            if got == digest:
                return cp.strip()
        if shutil.which("sbt") is None or shutil.which("java") is None:
            fail("sbt and java are required to build graft")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g")
        log = os.path.join(build_dir, "build.log")
        with open(log, "w") as out:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL)
        with open(log) as f:
            lines = f.read().splitlines()
        if r.returncode != 0:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            fail(f"build failed (sbt exit {r.returncode}), log in {log}")
        cp = next((ln for ln in reversed(lines)
                   if os.pathsep in ln and ".jar" in ln and not ln.startswith("[")), None)
        if cp is None:
            fail(f"no classpath in the build output, log in {log}")
        cp = os.pathsep.join(jar_dirs(build_dir, cp.split(os.pathsep)))
        with open(stamp, "w") as f:
            f.write(digest + "\n" + cp)
        return cp


def jar_dirs(build_dir, entries):
    """Replaces each class directory on the classpath by a jar of it:
    the JVM's class-data sharing archive only takes jars."""
    out = []
    for i, e in enumerate(entries):
        if os.path.isdir(e):
            jar = os.path.join(build_dir, f"classes-{i}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for d, _, files in os.walk(e):
                    for f in sorted(files):
                        p = os.path.join(d, f)
                        z.write(p, os.path.relpath(p, e))
            e = jar
        out.append(e)
    return out


def class_archive(build_dir, cp):
    """JVM flag for a class-data sharing archive of this classpath: the
    first run writes it at exit, and later runs map Spark's, Scala's and
    graft's classes from it instead of loading and verifying them again."""
    key = hashlib.sha256(cp.encode())
    for e in cp.split(os.pathsep):
        if e.startswith(build_dir):
            st = os.stat(e)
            key.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    jsa = os.path.join(build_dir, f"classes-{key.hexdigest()[:16]}.jsa")
    if os.path.exists(jsa):
        return f"-XX:SharedArchiveFile={jsa}"
    for old in os.listdir(build_dir):
        if old.endswith(".jsa"):
            os.remove(os.path.join(build_dir, old))
    return f"-XX:ArchiveClassesAtExit={jsa}"


def corpus(build_dir):
    """A copy of the sf0.1 fixture tables in the build directory, so that
    nothing a run does can touch the committed files."""
    out = os.path.join(build_dir, "fixture")
    if not os.path.exists(os.path.join(out, "DONE")):
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.copytree(FIXTURE, tmp)
        open(os.path.join(tmp, "DONE"), "w").close()
        try:
            os.rename(tmp, out)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return out


def run_jvm(build_dir, cp, args, work, seconds):
    archive = class_archive(build_dir, cp)
    if archive.startswith("-XX:ArchiveClassesAtExit"):
        seconds = max(seconds, JVM_FIRST_TIMEOUT_S)
    argfile = os.path.join(work, "java.args")
    with open(argfile, "w") as f:
        f.write("-cp\n" + cp.replace("\\", "\\\\").replace(" ", "\\ ") + "\n")
    cmd = ["java", archive, f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
           "-Dspark.sql.codegen.cache.maxEntries=5000",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"@{argfile}", "perfbench.Main"] + args
    # Spark must keep its scratch files in the run directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=seconds)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail("benchmark JVM " + ("timed out" if rc is None else f"exited with {rc}"))


def main():
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--ledger-out", help="copy the result and span ledger here")
    ap.add_argument("--record", action="store_true",
                    help="rewrite expected.json from this commit's outputs")
    a = ap.parse_args()
    if not a.record and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"graft sources not found under {ROOT}")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp = build(build_dir)
    corpus_dir = corpus(build_dir)

    work = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if a.record:
        expected = os.path.join(HERE, "expected.json")
        try:
            run_jvm(build_dir, cp, ["--record", expected,
                                    "--record-seeds", ",".join(map(str, RECORDED_SEEDS)),
                                    "--corpus", corpus_dir, "--work", work],
                    work, 900)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        with open(expected) as f:
            rec = json.load(f)
        with open(expected, "w") as f:
            json.dump(rec, f, indent=2)
            f.write("\n")
        return
    out = os.path.join(work, "result.json")
    try:
        run_jvm(build_dir, cp, ["--workload", a.workload, "--seed", str(a.seed),
                                "--seconds", str(a.seconds), "--trace", str(a.trace),
                                "--corpus", corpus_dir, "--work", work, "--out", out,
                                "--expected", os.path.join(HERE, "expected.json")],
                work, BATCH_TIMEOUT_S if a.workload.startswith("batch_") else JVM_TIMEOUT_S)
        with open(out) as f:
            res = json.load(f)
        if a.ledger_out:
            os.makedirs(os.path.dirname(os.path.abspath(a.ledger_out)), exist_ok=True)
            led = dict(res, workload=a.workload, seed=a.seed, seconds=a.seconds,
                       trace=a.trace)
            spans = os.path.join(work, "spans.json")
            if os.path.exists(spans):
                with open(spans) as f:
                    led["spans"] = json.load(f)
            with open(a.ledger_out, "w") as f:
                json.dump(led, f, indent=1)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    b = metrics.bench()
    listed = {m["name"]: m for m in b["end_to_end"] + b["per_layer"]}
    metrics.print_table(a.workload, a.seed, res, listed)
    reported = res["per_layer"] if a.trace else res["end_to_end"]
    names = metrics.names(a.workload, a.trace, reported, b)
    missing = [n for n in names if n not in reported]
    if missing:
        fail(f"the run reported no {', '.join(missing)}")
    line = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": reported[n], "unit": metrics.unit(n, listed)}
                    for n in names},
    }
    print(json.dumps(line))


if __name__ == "__main__":
    main()
