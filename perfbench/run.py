"""graft benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload feature_store --seed 1 --seconds 6 --trace 0

Run from the root of a graft checkout. Builds the program and the
benchmark from source (see build.py), then runs the workload in one JVM
as Spark ``local[<cores>]`` with a fixed heap and shuffle width. The
last line of stdout is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones. The full run record (spans, per-pass numbers, checks,
failures) is written to ``<build>/runs/``. Exits non-zero when an
output check or an operation fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=build.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the benchmark's own tests")
    ap.add_argument("--corrupt", default="",
                    help="deliberately corrupt this op's output (tests the output checks)")
    a = ap.parse_args()

    jar, archive = build.build()
    out = build.build_dir()
    tag = f"{a.workload}-{a.size}-s{a.seed}-t{a.trace}" + (f"-corrupt_{a.corrupt}" if a.corrupt else "")
    scratch = os.path.join(out, "scratch", f"{tag}-{os.getpid()}")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for d in ("runs", "logs", "inputs"):
        os.makedirs(os.path.join(out, d), exist_ok=True)
    result = os.path.join(scratch, "result.json")
    record = os.path.join(out, "runs", tag + ".json")
    log_path = os.path.join(out, "logs", tag + ".log")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--size", a.size, "--cores", str(build.cores()),
            "--inputs", os.path.join(out, "inputs"), "--work", os.path.join(scratch, "work"),
            "--result", result, "--record", record] + (["--corrupt", a.corrupt] if a.corrupt else [])
    cds = (f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
           else f"-XX:ArchiveClassesAtExit={archive}")
    cmd = build.java_cmd(jar, tmp, args, cds)

    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=scratch,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code is None:
        print(f"perfbench: {tag} timed out after {JVM_TIMEOUT_S}s; log {log_path}", file=sys.stderr)
        sys.exit(3)
    if not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"perfbench: {tag} produced no result (exit {code}); log {log_path}", file=sys.stderr)
        sys.exit(code or 4)
    with open(result) as f:
        res = json.load(f)
    shutil.rmtree(scratch, ignore_errors=True)
    print(f"perfbench: {tag} done in {time.time() - t0:.1f}s; record {record}", file=sys.stderr)
    print(json.dumps(res))
    sys.exit(code)


if __name__ == "__main__":
    main()
