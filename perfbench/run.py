"""graft benchmark: one workload, one closed-loop run.

Usage, from the repository root:
  python3 perfbench/run.py --workload app|queries --seed N --seconds S --trace 0|1

Builds graft and the benchmark if their sources changed (perfbench/build.py),
runs the workload in one local[4] JVM, and prints one JSON object as the last
line of stdout: correct, attempted, failed and metrics (the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1). Host steal and
load average around the run go to stderr and to .bench_build/perfbench/runs.jsonl.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["app", "queries"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpu_ticks():
    """(steal, total) jiffies of the host from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_jvm(cmd, timeout):
    """Runs the benchmark JVM in its own process group; kills the group on
    timeout and waits for it. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a SIGTERM unwinds like an exception, so the JVM is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    out = build.OUT
    tag = f"{a.workload}-{a.seed}-{os.getpid()}"
    work = out / f"work-{tag}"
    result = out / f"result-{tag}.json"
    tmp = work / "java-tmp"
    tmp.mkdir(parents=True)
    cmd = [build.java(), "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-Xss16m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp.resolve()}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work), "--result", str(result)]

    steal0, total0 = cpu_ticks()
    load_before = load1()
    t0 = time.time()
    try:
        code = run_jvm(cmd, JVM_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    steal1, total1 = cpu_ticks()
    steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    telemetry = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                 "wall_s": round(time.time() - t0, 3), "exit": code,
                 "steal_pct": round(steal_pct, 3), "load1_before": load_before,
                 "load1_after": load1()}
    print(f"[perfbench] telemetry {json.dumps(telemetry)}", file=sys.stderr)
    with open(out / "runs.jsonl", "a") as f:
        f.write(json.dumps(telemetry) + "\n")

    if code != 0 or not result.exists():
        print(f"[perfbench] benchmark JVM failed (exit {code})", file=sys.stderr)
        result.unlink(missing_ok=True)
        return 1
    res = json.loads(result.read_text())
    result.unlink()
    if a.trace:
        res["metrics"]["host.steal_pct"] = {"value": steal_pct, "unit": "%"}
        res["metrics"]["host.load1"] = {"value": telemetry["load1_after"], "unit": "load"}
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
