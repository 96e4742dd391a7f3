#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload ingest|corpus --seed N \\
        --seconds S --trace 0|1

Builds graft and the benchmark program (perfbench/build.py) if the sources changed,
then runs graftbench.Main in a JVM with Spark at local[min(4, nproc)]. The
JVM's report is passed through; the last line printed is one JSON object
{correct, attempted, failed, metrics}: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1. A traced run also writes its spans to
<build>/trace/<workload>-seed<N>.spans.jsonl. Exits non-zero, without a
result line, when the build or the run fails or overruns.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("ingest", "corpus")
RUN_LIMIT_S = 170
HEAP = "3g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    args = ap.parse_args()

    try:
        classes = build.build()
    except (SystemExit, subprocess.TimeoutExpired, OSError) as e:
        print(f"[bench] build failed: {e}", file=sys.stderr)
        return 2

    out = build.build_dir()
    work = out / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    spans = out / "trace" / f"{args.workload}-seed{args.seed}.spans.jsonl"
    cores = min(4, len(os.sched_getaffinity(0)))
    cmd = (["java"] + ADD_OPENS +
           [f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads",
            f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}",
            "-cp", build.classpath(classes), "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--cores", str(cores), "--work", str(work), "--spans", str(spans)])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)

    def stop(signum, _frame):
        # the JVM runs in its own session: stop it before this process ends
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, stop)
    try:
        stdout, stderr = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        print(f"[bench] run exceeded {RUN_LIMIT_S} s and was stopped", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = stdout.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(stderr[-4000:])
        print(f"[bench] JVM exited with code {proc.returncode}", file=sys.stderr)
        return 4
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.stderr.write(stderr[-4000:])
        print("[bench] no result line from the JVM", file=sys.stderr)
        return 5
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
