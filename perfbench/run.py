#!/usr/bin/env python3
"""Launcher for the CDC sync benchmark.

    python3 perfbench/run.py --workload <bulk_drain|doc_search> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles the program
(src/main/scala) together with the benchmark (perfbench/src) with the Scala
compiler that ships in Spark's jars, into .bench_build/; later runs reuse the
build while the sources are unchanged. Each run works under its own dir in
.bench_work/ and deletes it afterwards; traced runs leave their spans in
.bench_out/. The last stdout line is the JSON result. A traced run reports
every per_layer metric of BENCHMARK.json, as 0 where the workload does not
run that layer.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = ROOT / "perfbench" / "src"
BUILD = ROOT / ".bench_build" / "perfbench"
WORK = ROOT / ".bench_work"
OUT = ROOT / ".bench_out"
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars, from $SPARK_HOME."""
    jars = Path(os.environ.get("SPARK_HOME", "")) / "jars"
    if "SPARK_HOME" not in os.environ or not jars.is_dir():
        die("Spark jars not found; set SPARK_HOME to a Spark 4.1 install")
    return jars


def sources():
    if not (PROGRAM_SRC / "graft" / "sync" / "DocSync.scala").is_file():
        die(f"program sources not found under {PROGRAM_SRC}; run from a full checkout")
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def build(jars):
    """Compile program + benchmark into BUILD/classes unless the stamp matches."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    stamp = digest.hexdigest()
    classes, stamp_file = BUILD / "classes", BUILD / "stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr)
    t = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(f) for f in files])
    if r.returncode != 0:
        die("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    print(f"[perfbench] compiled in {time.time() - t:.0f} s", file=sys.stderr)
    return classes


def chmod_shim(work):
    """A `chmod` that counts its own forks (one byte per call) and then runs
    the real one; put first on PATH in traced runs."""
    real = shutil.which("chmod")
    if real is None:
        return None, None
    shim_dir, log = work / "shim", work / "chmod.log"
    shim_dir.mkdir(parents=True)
    shim = shim_dir / "chmod"
    shim.write_text(f'#!/bin/sh\nprintf x >> "{log}"\nexec "{real}" "$@"\n')
    shim.chmod(0o755)
    return shim_dir, log


def run_java(jars, classes, main, args, env):
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={env['PERFBENCH_TMP']}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{jars}/*", main] + args)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    return proc.returncode, out.decode()


def per_layer(result):
    """The traced result with its metrics in BENCHMARK.json's per_layer order,
    zero-filling the layers the workload does not run."""
    got = json.loads(result)
    spec = {m["name"]: m["unit"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]}
    for name, m in got["metrics"].items():
        if spec.get(name) != m["unit"]:
            die(f"metric {name} ({m['unit']}) is not a per_layer metric of BENCHMARK.json")
    got["metrics"] = {n: got["metrics"].get(n, {"value": 0.0, "unit": u}) for n, u in spec.items()}
    return json.dumps(got, separators=(",", ":"))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["bulk_drain", "doc_search"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true", help="run the replay oracle's own tests")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")

    jars = spark_jars()
    classes = build(jars)
    work = WORK / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, PERFBENCH_TMP=str(work / "tmp"))
    try:
        if a.selftest:
            code, out = run_java(jars, classes, "perfbench.SelfTest", [str(work)], env)
            sys.stdout.write(out)
            sys.exit(code)
        if a.trace:
            shim_dir, log = chmod_shim(work)
            if shim_dir:
                env["PATH"] = f"{shim_dir}{os.pathsep}{env.get('PATH', '')}"
                env["PERFBENCH_CHMOD_LOG"] = str(log)
        code, out = run_java(jars, classes, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--out", str(OUT)], env)
        lines = [l for l in out.splitlines() if l.strip()]
        if code != 0 or not lines or not lines[-1].startswith("{"):
            sys.stderr.write(out)
            die(f"benchmark exited with code {code} and no result")
        print(per_layer(lines[-1]) if a.trace else lines[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
