#!/usr/bin/env python3
"""Check BENCHMARK.json against what the benchmark emits.

Run from the repository root:  python3 citebench/selftest.py

- Every name matches [A-Za-z0-9_.-]+ and is used once, every unit is
  valid, and there are at most 16 end-to-end and 128 per-layer metrics.
- One short run of each listed workload, untraced and traced, emits exactly
  the listed metrics with their units, and its outputs are correct.
- In a directory that holds only BENCHMARK.json and the benchmark's files,
  the command fails without printing a result.
"""
import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
NAME = re.compile(r"[A-Za-z0-9_.-]+")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def check(cond, msg):
    if not cond:
        sys.exit(f"selftest: FAIL {msg}")


def run(cwd, workload, trace):
    cmd = json.loads((ROOT / "BENCHMARK.json").read_text())["command"]
    return subprocess.run(cmd + ["--workload", workload, "--seed", "1", "--seconds", "1",
                                 "--trace", str(trace)],
                          cwd=cwd, stdout=subprocess.PIPE, text=True, timeout=900)


def main():
    b = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e, per = b["end_to_end"], b["per_layer"]
    names = [w["name"] for w in b["workloads"]] + [m["name"] for m in e2e + per]
    check(len(names) == len(set(names)), "a name is used twice")
    for n in names:
        check(NAME.fullmatch(n) is not None and n[0].isalnum() and len(n) <= 64, f"bad name {n!r}")
    for m in e2e + per:
        check(UNIT.fullmatch(m["unit"]) is not None, f"bad unit {m['unit']!r}")
    for w in b["workloads"]:
        check(len(w["why"]) <= 200 and "\n" not in w["why"], f"why of {w['name']}")
    check(1 <= len(e2e) <= 16, "1 to 16 end-to-end metrics")
    check(1 <= len(per) <= 128, "1 to 128 per-layer metrics")
    check(any(m["name"] == "setup_s" for m in e2e), "setup_s is an end-to-end metric")

    for w in b["workloads"]:
        for trace, listed in ((0, e2e), (1, per)):
            out = run(ROOT, w["name"], trace)
            check(out.returncode == 0, f"{w['name']} trace {trace} exited {out.returncode}")
            res = json.loads(out.stdout.strip().splitlines()[-1])
            check(set(res) == {"correct", "attempted", "failed", "metrics"}, "result keys")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{w['name']} trace {trace} outputs differ from the oracle")
            want = {m["name"]: m["unit"] for m in listed}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{w['name']} trace {trace} emits {sorted(set(got) ^ set(want))}")
            print(f"ok {w['name']} trace {trace}: {len(got)} metrics")

    bare = ROOT / "citebench" / "out" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in b["paths"]:
        shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("target", "out"))
    out = run(bare, b["workloads"][0]["name"], 0)
    shutil.rmtree(bare)
    check(out.returncode != 0 and not out.stdout.strip(), "bare directory must fail without a result")
    print("ok bare directory fails")


if __name__ == "__main__":
    main()
