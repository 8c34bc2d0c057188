"""Benchmark of the FRED DAG and the curation composite.

    python3 pipebench/run.py --workload backfill|catchup|curation \\
        --seed N --seconds S --trace 0|1

Run from the repository root. Builds the library and the benchmark once
(cached by source content, see build.py), then runs one JVM with
local[nproc] and a heap sized from MemTotal, and prints one JSON result
as the last line of stdout; exits non-zero, without a result, when the
build or the run fails. With --trace 1 the run also writes its spans
and per-pass layer counters to .bench_build/pipebench/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import build

DEADLINE_S = 170  # a run must end within 180 s


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["backfill", "catchup", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    out = build.build()
    started = time.monotonic()
    base = build.CACHE
    work = os.path.join(base, "work-%s-%d" % (a.workload, os.getpid()))
    logs = os.path.join(base, "logs")
    traces = os.path.join(base, "traces")
    for d in (work, logs, traces):
        os.makedirs(d, exist_ok=True)
    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    cmd = build.jvm(out, work, ["-XX:SharedArchiveFile=" + os.path.join(out, "app.jsa")]) + [
        "pipebench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--cores", str(build.cores()),
    ]
    if a.trace:
        cmd += ["--trace-out", os.path.join(traces, tag + ".json")]
    log_path = os.path.join(logs, tag + ".log")
    result = None
    try:
        with open(log_path, "wb") as log:
            cmd += ["--launched-ns", str(time.time_ns())]
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                    start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=max(10, DEADLINE_S - (time.monotonic() - started)))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                sys.stderr.write("pipebench: run exceeded %d s; killed\n" % DEADLINE_S)
                return 1
        for line in stdout.decode(errors="replace").splitlines():
            if line.startswith("PIPEBENCH_RESULT "):
                result = json.loads(line[len("PIPEBENCH_RESULT "):])
        if proc.returncode != 0 or result is None:
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            sys.stderr.write("pipebench: JVM exited %d without a result\n" % proc.returncode)
            return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stderr.write("pipebench: %s passes=%d log=%s\n" % (tag, result.pop("passes"), log_path))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
