"""Runs the benchmark over several seeds and reports, per workload and
metric, the median, the quartiles and the spread (Q3 - Q1) / median, the
way statistics.quantiles(values, n=4) gives them.

Usage, from the repository root:
  python3 perfbench/spread.py --seeds 0-9 [--repeat 1] [--workloads build,refresh]
                              [--trace 0] [--out FILE]
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True


def seeds(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"n": len(values), "median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values) if statistics.median(values) else None}


def main():
    spec = json.loads(Path("BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="0-9")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()

    report = {}
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            for _ in range(a.repeat):
                p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w,
                                    "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                                    "--trace", str(a.trace)],
                                   stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
                lines = p.stdout.strip().splitlines()
                res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
                runs.append({"seed": s, "result": res})
                print(f"{w} seed {s}: {json.dumps(res)}", file=sys.stderr, flush=True)
        ok = [r["result"] for r in runs if r["result"]]
        names = sorted({k for r in ok for k in r["metrics"]})
        report[w] = {"runs": len(runs), "completed": len(ok),
                     "all_correct": len(ok) == len(runs) and all(r["correct"] for r in ok),
                     "metrics": {k: summary([r["metrics"][k]["value"] for r in ok])
                                 for k in names if len(ok) >= 2}}
        for k, v in report[w]["metrics"].items():
            print(f"{w:8s} {k:40s} median {v['median']:.6g}  q1 {v['q1']:.6g}  "
                  f"q3 {v['q3']:.6g}  spread {v['spread']}")
    if a.out:
        Path(a.out).write_text(json.dumps(report, indent=1) + "\n")


if __name__ == "__main__":
    main()
