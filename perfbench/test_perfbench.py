"""The benchmark's own test.

Runs perfbench.SelfTest (seeded generator, changed set, failure accounting
with deliberately corrupted outputs), checks that BENCHMARK.json lists
exactly the per-layer metrics a traced run emits, and checks that run.py
exits non-zero without a result where graft's sources are missing.

Usage, from the repository root:  python3 perfbench/test_perfbench.py
"""
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402


def self_test(classpath):
    work = build.OUT / f"selftest-{os.getpid()}"
    tmp = work / "java-tmp"
    tmp.mkdir(parents=True)
    cmd = [build.java(), "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp.resolve()}"]
    cmd += [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", classpath, "perfbench.SelfTest", "--work", str(work)]
    try:
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(p.stdout, end="")
    layers = next((json.loads(l[len("LAYERS "):]) for l in p.stdout.splitlines()
                   if l.startswith("LAYERS ")), None)
    return p.returncode == 0, layers


def layers_match(layers):
    spec = json.loads(Path("BENCHMARK.json").read_text())
    listed = [m["name"] for m in spec["per_layer"]]
    ok = layers is not None and sorted(listed) == sorted(layers)
    if not ok:
        print(f"  missing from BENCHMARK.json: {sorted(set(layers or []) - set(listed))}")
        print(f"  not emitted: {sorted(set(listed) - set(layers or []))}")
    print(f"{'PASS' if ok else 'FAIL'} BENCHMARK.json per_layer = traced metrics")
    workloads = [w["name"] for w in spec["workloads"]]
    ok2 = workloads == run.WORKLOADS
    print(f"{'PASS' if ok2 else 'FAIL'} BENCHMARK.json workloads = {run.WORKLOADS}")
    return ok and ok2


def fails_without_sources():
    """run.py in a directory holding only BENCHMARK.json and perfbench/."""
    d = (build.OUT / f"bare-{os.getpid()}").resolve()
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    try:
        shutil.copy("BENCHMARK.json", d)
        shutil.copytree(Path(__file__).resolve().parent, d / "perfbench",
                        ignore=shutil.ignore_patterns("__pycache__"))
        t0 = time.time()
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "build",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=d, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=180)
        ok = p.returncode != 0 and p.stdout.strip() == "" and time.time() - t0 < 180
    finally:
        shutil.rmtree(d, ignore_errors=True)
    print(f"{'PASS' if ok else 'FAIL'} run.py without graft sources exits {p.returncode}, no result")
    return ok


def main():
    classpath = build.build()
    ok, layers = self_test(classpath)
    ok = layers_match(layers) and ok
    ok = fails_without_sources() and ok
    print("RESULT:", "PASS" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
