#!/usr/bin/env python3
"""Log-lake pipeline benchmark.

    python3 perfbench/run.py --workload ingest|catalog|mixed --seed N \
        --seconds S --trace 0|1

Builds graft and the benchmark from this checkout's sources (sbt, once
per source state), runs one workload in its own JVM with the parameters
in perfbench/config.json, and prints that JVM's result JSON as the last
line of standard output. Exits non-zero when the build fails, the
sources are missing, the run times out, or a correctness check fails.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
TARGET = HERE / "target"
CLASSPATH = TARGET / "bench-classpath.txt"
STAMP = TARGET / "bench-stamp.txt"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these module opens.
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
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files += [p for p in r.rglob("*") if p.is_file()]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None


def build():
    digest = source_hash()
    if CLASSPATH.exists() and STAMP.exists() and STAMP.read_text() == digest:
        return
    log("building graft and the benchmark (sbt)")
    code, _ = run_bounded(
        ["sbt", "-batch", "-Dsbt.server.autostart=false",
         f"-Dsbt.global.base={TARGET / 'sbt-global'}",
         "compile", "writeClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr)
    if code != 0 or not CLASSPATH.exists():
        log(f"build failed (exit {code})")
        sys.exit(2)
    STAMP.write_text(digest)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log(f"graft sources not found under {ROOT / 'src' / 'main'}; "
            "run from a full checkout")
        sys.exit(2)
    config = json.loads((HERE / "config.json").read_text())
    build()

    work = WORK / args.workload
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" \
        if os.environ.get("JAVA_HOME") else "java"
    jvm = config["jvm"]
    cmd = [str(java), f"-Xms{jvm['heap']}", f"-Xmx{jvm['heap']}",
           f"-Djava.io.tmpdir={WORK / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSPATH.read_text().strip(), "graft.sources.bench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work)]
    for k, v in config["params"].items():
        cmd += ["--param", f"{k}={v}"]
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)

    code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=HERE,
                            stdout=subprocess.PIPE, text=True)
    if code is None:
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
        sys.exit(3)
    lines = out.splitlines()
    result = next((l for l in reversed(lines) if l.startswith("{")), None)
    for l in lines:
        if l is not result:
            print(l)
    if result is None:
        log(f"no result line (exit {code})")
        sys.exit(code or 4)
    print(result, flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
