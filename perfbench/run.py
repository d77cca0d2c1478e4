#!/usr/bin/env python3
"""Run one workload of the MOB benchmark (see perfbench/README.md).

    python3 perfbench/run.py --workload fit_unique --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Builds the library and the benchmark from source if needed (build.py),
then runs one JVM with a local Spark session over all cores.  The last
line of standard output is the one-line JSON result; the line before
it is the run record.  Everything the run writes stays under
.bench_build/ and .bench_work/ in the checkout.  Exit code 3 means an
output mismatch.
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
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

ROOT = HERE.parent
WORKLOADS = ("fit_unique", "fit_wide", "score_fresh")
# a run must end within 180 s, or 900 s when it also compiles
RUN_LIMIT_S, BUILD_RUN_LIMIT_S = 175, 880
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def cores() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def clean_stale(work_root: Path):
    """Remove scratch left by runs that were killed (their pid is gone)."""
    for d in work_root.glob("run-*"):
        pid = int(d.name.rsplit("-", 1)[-1])
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if not a.self_test and a.seconds <= 0:
        ap.error("--seconds must be positive")

    # SystemExit unwinds through the finally blocks that stop the children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    start = time.monotonic()
    try:
        classpath, archive, compiled = build.ensure(ROOT)
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    deadline = start + (BUILD_RUN_LIMIT_S if compiled else RUN_LIMIT_S)

    work_root = ROOT / ".bench_work"
    work_root.mkdir(exist_ok=True)
    clean_stale(work_root)
    work = work_root / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    share = f"-XX:SharedArchiveFile={archive}" if archive else "-Xshare:auto"
    if a.self_test:
        cmd = build.jvm_command(classpath, work / "tmp", "mobbench.SelfTest", [str(work)], share)
    else:
        cmd = build.jvm_command(classpath, work / "tmp", "mobbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores()),
            "--work", str(work), "--out", str(work_root / "records")], share)

    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=max(10.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        print("run timed out", file=sys.stderr)
        return 124
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = out.splitlines()
    if a.self_test:
        print(out, end="")
        return proc.returncode
    result = None
    for i in range(len(lines) - 1, -1, -1):
        try:
            obj = json.loads(lines[i])
        except ValueError:
            continue
        if isinstance(obj, dict) and set(obj) == RESULT_KEYS:
            result = lines.pop(i)
            break
    for line in lines:
        print(line)
    if proc.returncode not in (0, 3) or result is None:
        print(f"run failed with exit code {proc.returncode}", file=sys.stderr)
        return proc.returncode or 1
    print(result)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
