"""Run every workload over several seeds and report, per end-to-end
metric, the median and the spread (interquartile range as a share of
the median, from statistics.quantiles(n=4)) next to the metric's bound.

    python3 perfbench/spread.py --seeds 1-10 [--workload feature_store] [--out spread.json]

Runs are sequential; each is one `perfbench/run.py` call.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    report = {}
    ok = True
    for w in workloads:
        values = {m["name"]: [] for m in spec["end_to_end"]}
        walls = []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(s),
                 "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines else {}
            if p.returncode != 0 or not res.get("correct"):
                ok = False
                print(f"{w} seed {s}: exit {p.returncode} {res or p.stderr[-2000:]}", file=sys.stderr)
                continue
            for k in values:
                values[k].append(res["metrics"][k]["value"])
            print(f"{w} seed {s}: {walls[-1]:.1f}s", file=sys.stderr, flush=True)
        report[w] = {"run_wall_s": walls, "metrics": {}}
        for m in spec["end_to_end"]:
            v = values[m["name"]]
            if len(v) < 2:
                continue
            q1, _, q3 = statistics.quantiles(v, n=4)
            report[w]["metrics"][m["name"]] = {
                "median": statistics.median(v), "spread": (q3 - q1) / statistics.median(v),
                "bound": m["bound"], "values": v}
            print(f"{w:15s} {m['name']:15s} median {statistics.median(v):12.4f}  "
                  f"spread {(q3 - q1) / statistics.median(v):.3f}  bound {m['bound']}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
