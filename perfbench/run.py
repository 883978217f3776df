#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload build|search|http --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout of the repository. The first run builds the
engine and the benchmark from source with sbt (offline) into target
directories, then prepares the serving artifact of `search` and `http` into
`.bench_build/cache/`; later runs reuse both while the sources are
unchanged. Each run starts one JVM (`perfbench.Main`), which prints its run
record and, as the last line of standard output, the result JSON. Run
records and traces are kept under `.bench_build/results/`.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these module opens outside spark-submit; the same
# list the engine's own build passes to its forked JVMs.
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change requires a rebuild."""
    files = [os.path.join(d, n) for d in (ROOT, HERE) for n in ("build.sbt",)]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, n) for n in os.listdir(d)
                      if n.endswith((".sbt", ".scala", ".properties"))]
    for r in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


# Options of one workload's JVM. `search` compiles in the foreground: with
# the JVM's default background compilation, the code the JIT settles on for
# the BM25 loop differs from one JVM to the next. Six runs of one seed on a
# quiet 4-core host read 79-95 queries/s, each steady within itself (its
# passes within 3%); with -Xbatch six runs read 96-102. `http` keeps the JVM
# defaults the engine ships with, which are part of what it measures; so
# does `build`, whose runs stay within their bound with them.
WORKLOAD_JVM_OPTS = {"search": ["-Xbatch"]}


def java_cmd(cp, work, opts=()):
    """The JVM every run uses: a fixed 2 GiB heap with a fixed 512 MiB young
    generation, so heap sizing (and with it peak RSS) does not drift
    between runs, plus `opts`."""
    java = shutil.which("java") or fail("java not found on PATH")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, "-Xms2g", "-Xmx2g", "-Xmn512m", f"-Djava.io.tmpdir={tmp}", *opts]
    for o in OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"]


def build(digest, cache):
    """Once per source state: compile engine + benchmark, then prepare the
    serving artifact into `cache`. Returns the classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    sbt = shutil.which("sbt") or fail("sbt not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    print(f"perfbench: building engine and benchmark (log: {log})", file=sys.stderr)
    with open(log, "w") as lf:
        proc = subprocess.run(
            [sbt, "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
            stdin=subprocess.DEVNULL, text=True, timeout=850)
        lf.write(proc.stdout)
    if proc.returncode != 0:
        fail(f"build failed (sbt exit {proc.returncode}); see {log}", 3)
    lines = [l for l in proc.stdout.splitlines()
             if l.strip() and not l.startswith("[") and os.pathsep in l]
    if not lines:
        fail("build printed no classpath", 3)
    cp = lines[-1].strip()
    work = os.path.join(ROOT, ".bench_build", "work", f"prepare-{os.getpid()}")
    print("perfbench: preparing the serving artifact", file=sys.stderr)
    try:
        prep = subprocess.run(java_cmd(cp, work) + ["--prepare", "1", "--work", work,
                                                    "--cache", cache],
                              cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                              stdin=subprocess.DEVNULL, timeout=600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if prep.returncode != 0:
        fail(f"preparing the serving artifact failed (exit {prep.returncode})", 3)
    with open(cp_file, "w") as fh:
        fh.write(cp + "\n")
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources under {ROOT}: run from a checkout of the repository")
    digest = source_hash()
    cache = os.path.join(ROOT, ".bench_build", "cache", digest[:16])
    cp = build(digest, cache)
    work = os.path.join(ROOT, ".bench_build", "work", str(os.getpid()))
    out = os.path.join(ROOT, ".bench_build", "results")
    cmd = java_cmd(cp, work, WORKLOAD_JVM_OPTS.get(a.workload, ())) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--out", out, "--cache", cache]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S}s", 4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"run failed (exit {proc.returncode})", 1)
    sys.stdout.write(stdout)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
