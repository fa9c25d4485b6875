#!/usr/bin/env python3
"""Benchmark entry point: builds the library and the harness from source,
runs one workload in one fresh JVM and prints one JSON result line.

    python3 perfbench/run.py --workload extract|neardup \
        --seed N --seconds S --trace 0|1

Run it from the repository root. The build goes to perfbench/.build (reused
while the sources are unchanged). Each run gets its own scratch directory
under perfbench/.scratch, used as the JVM's temp dir and Spark's local dir,
and wiped afterwards. Traced runs write their spans to perfbench/.out.
See perfbench/NOTES.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SRC = ROOT / "src" / "main" / "scala"

DATA = BENCH / "data" / "sf0.01"
PINS = BENCH / "digests.json"
EXTRACT_DOCS = 3000
JVM_TIMEOUT_S = 170
TAG = "PERFBENCH_RESULT "

# What spark-submit would pass on JDK 17 (build.sbt carries the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def jar_dir():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text() if sbt.exists() else "")
    if not m:
        sys.exit("set SPARK_HOME: build.sbt names no Spark jar directory")
    return Path(m.group(1))


def jars():
    found = sorted(jar_dir().glob("*.jar"))
    if not found:
        sys.exit(f"no Spark jars under {jar_dir()}")
    return found


def sources():
    lib = sorted(SRC.rglob("*.scala")) if SRC.is_dir() else []
    if not lib:
        sys.exit(f"no library sources under {SRC}: run from the repository root")
    return lib + sorted((BENCH / "src").rglob("*.scala"))


def build():
    """Compiles library + harness with the Scala compiler shipped in Spark's
    jars, into a directory keyed by the sources' hash."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BENCH / ".build" / h.hexdigest()[:16]
    classes = out / "classes"
    if classes.is_dir():
        return classes
    shutil.rmtree(BENCH / ".build", ignore_errors=True)
    tmp = out / "classes.tmp"
    tmp.mkdir(parents=True)
    cp = os.pathsep.join(map(str, jars()))
    log(f"compiling {len(files)} sources")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(f) for f in files],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("build failed")
    tmp.rename(classes)
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


def heap_gb():
    """Half of MemTotal, clamped to 2-8 GiB (the tier-1 test formula)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def run_jvm(args, classes, scratch):
    (scratch / "tmp").mkdir(parents=True)
    (scratch / "local").mkdir()
    cmd = ["java", f"-Xmx{heap_gb()}g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={scratch / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([str(classes), str(jar_dir() / "*")]),
            "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", str(DATA),
            "--scratch", str(scratch / "work"), "--out", str(BENCH / ".out"),
            "--pins", str(PINS), "--docs", str(EXTRACT_DOCS)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(scratch / "local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    timed_out = []

    def kill():
        timed_out.append(True)
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(JVM_TIMEOUT_S, kill)
    watchdog.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith(TAG):
                result = json.loads(line[len(TAG):])
            else:
                sys.stderr.write(line)
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    if timed_out:
        log(f"JVM killed after {JVM_TIMEOUT_S} s")
        return None
    if proc.returncode != 0:
        log(f"JVM exited with {proc.returncode}")
        return None
    return result


def note_overhead(raw, args, build_id):
    """Untraced runs log their wall_s in perfbench/.out, keyed by workload and
    build; a traced run prints its overhead on stderr: its wall_s minus the
    median of the untraced runs of the same workload and build."""
    log_file = BENCH / ".out" / "untraced.jsonl"
    m = raw["metrics"]
    if not args.trace:
        log_file.parent.mkdir(exist_ok=True)
        with open(log_file, "a") as f:
            f.write(json.dumps({"workload": args.workload, "build": build_id,
                                "seed": args.seed, "wall_s": m["wall_s"]}) + "\n")
        return
    walls = []
    if log_file.exists():
        for line in log_file.read_text().splitlines():
            r = json.loads(line)
            if r["workload"] == args.workload and r.get("build") == build_id:
                walls.append(r["wall_s"])
    if walls:
        med = statistics.median(walls)
        log(f"trace.overhead_s={m['trace.wall_s'] - med:.3f} (traced wall_s "
            f"{m['trace.wall_s']:.3f} - median of {len(walls)} untraced {med:.3f})")
    else:
        log("trace.overhead_s unmeasured: no untraced run of this build logged")


def report(raw, trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if trace else "end_to_end"]
    got = raw["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing and not trace:
        log(f"end-to-end metrics not measured: {missing}")
        return None
    if missing:
        log(f"{len(missing)} per-layer metrics belong to layers this workload "
            f"does not call; reported as 0: {' '.join(missing)}")
    for f in raw.get("failures", []):
        log(f"failure: {f}")
    return {
        "correct": bool(raw["correct"]) and raw["attempted"] >= 1,
        "attempted": int(raw["attempted"]),
        "failed": int(raw["failed"]),
        "metrics": {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in wanted},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["extract", "neardup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    # SIGTERM unwinds through the finally blocks, which stop the JVM.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    classes = build()
    scratch = BENCH / ".scratch" / f"run-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        raw = run_jvm(args, classes, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if raw:
        note_overhead(raw, args, classes.parent.name)
    result = report(raw, args.trace == 1) if raw else None
    if result is None:
        sys.exit(1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
