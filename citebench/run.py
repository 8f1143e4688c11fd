#!/usr/bin/env python3
"""Run one citebench workload and print its metrics.

Usage, from the repository root:

    python3 citebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the engine and the benchmark with sbt
(citebench/build.sbt); later runs reuse the build until a source file
changes. Every line but the last is informational. The last line is one
JSON object with the keys correct, attempted, failed and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
WORK = BENCH / "out" / "run"
TRACES = BENCH / "out" / "traces"
WORKLOADS = ("density", "diameter_deep", "diameter_wide", "dedup")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600

# Spark on JDK 17 needs these outside spark-submit (which adds them).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"citebench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compile with sbt once per source state; return the classpath."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    cp_file, stamp_file = TARGET / "citebench.classpath", TARGET / "citebench.stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and cp_file.exists():
        return cp_file.read_text().strip()
    print("building engine and benchmark with sbt ...", file=sys.stderr)
    (TARGET / "tmp").mkdir(parents=True, exist_ok=True)
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={TARGET / 'tmp'}",
             "-J-XX:-UsePerfData", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail(f"build took longer than {BUILD_LIMIT_S} s", 1)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        print("\n".join(lines[-40:]), file=sys.stderr)
        fail("build failed", 1)
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    return lines[-1]


def java(cp, work, args, timeout):
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.citebench.Main", "--dir", str(work),
            "--traces", str(TRACES)] + args
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=timeout)
    if out.returncode != 0:
        print(out.stdout, file=sys.stderr)
        fail(f"benchmark JVM exited with {out.returncode}", 1)
    return out.stdout.splitlines()


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {"total": sum(v), "iowait": v[4], "steal": v[7] if len(v) > 7 else 0}


def spin_probe():
    """Seconds for a fixed single-thread loop: the host's speed right now."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i % 7
    return time.perf_counter() - t


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources next to {BENCH.name}/: run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    cp = build()
    start = time.monotonic()
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)

    before, load0, spin0 = cpu_times(), os.getloadavg()[0], spin_probe()
    lines = java(cp, WORK, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", a.trace],
                 max(10, RUN_LIMIT_S - (time.monotonic() - start)))
    after, spin1 = cpu_times(), spin_probe()
    result = None
    for l in lines:
        if l.startswith("RESULT "):
            result = json.loads(l[len("RESULT "):])
        else:
            print(l)
    if result is None:
        fail("benchmark JVM printed no result", 1)
    dt = max(1, after["total"] - before["total"])
    host = {"loadavg_1m": load0, "steal_frac": (after["steal"] - before["steal"]) / dt,
            "iowait_frac": (after["iowait"] - before["iowait"]) / dt,
            "spin_s_before": spin0, "spin_s_after": spin1, "nproc": os.cpu_count()}
    print("host: " + json.dumps(host))
    for name, m in result["metrics"].items():
        print(f"metric {name} = {m['value']} {m['unit']}")
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
