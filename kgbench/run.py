"""graft's benchmark: two seeded KG-construction workloads on one local[k]
Spark JVM (k = min(4, cores)), closed loop, one job in flight.

    python3 kgbench/run.py --workload kg-build --seed 1 --seconds 10 --trace 0
    python3 kgbench/run.py --self-test

Builds the program and the benchmark from source on first use (build.py),
then runs kgbench.Main. Every file it writes stays under .bench_build/ in the
checkout; the per-run work dir is removed when the run ends. The last stdout
line is the JSON result; on any failure the exit code is not 0 and no result
is printed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
from pathlib import Path

sys.dont_write_bytecode = True  # write nothing next to the sources
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("kg-build", "canon-dedup")
JVM_TIMEOUT_S = 170
HEAP = "2g"
# Spark on JDK 17 needs these outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class Stopped(Exception):
    pass


def run_jvm(cmd, log, timeout, relay=None):
    """Run one JVM in its own process group; kill the group on timeout or stop."""
    proc = None
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE if relay else subprocess.DEVNULL,
                                    stderr=err, text=True, cwd=build.ROOT, start_new_session=True)
            reader = None
            if relay:
                reader = threading.Thread(target=lambda: [relay(line) for line in proc.stdout], daemon=True)
                reader.start()
            proc.wait(timeout=timeout)
            if reader:
                reader.join()
            return proc.returncode
    except subprocess.TimeoutExpired:
        raise Stopped(f"JVM ran past {timeout} s")
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def jvm(java, classpath, work):
    # -XX:-UsePerfData: no hsperfdata file outside the checkout. AlwaysPreTouch
    # faults the whole heap in at start, so neither peak RSS nor job times
    # depend on when the heap first grows into fresh pages
    return [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-XX:-UsePerfData", "-Dspark.ui.enabled=false", *ADD_OPENS, "-cp", classpath]


def work_dir(name):
    work = build.BUILD / "work" / f"{name}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    return work


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true", help="run the benchmark's own tests")
    args = ap.parse_args()
    if not args.self_test and (args.workload is None or args.seed is None or args.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    def stop(*_):
        raise Stopped("terminated")
    signal.signal(signal.SIGTERM, stop)

    try:
        classpath = build.build()
        java = build.java()
    except build.BuildError as e:
        print(f"[kgbench] build error: {e}", file=sys.stderr)
        return 2

    lines = []

    def relay(line):
        lines.append(line.rstrip("\n"))
        if not line.startswith("{"):
            print(line, end="", flush=True)

    work = None
    try:
        if args.self_test:
            work = work_dir("self-test")
            cmd = jvm(java, classpath, work) + ["kgbench.SelfTest"]
        else:
            work = work_dir(args.workload)
            trace_dir = build.BUILD / "trace"
            trace_dir.mkdir(exist_ok=True)
            cmd = jvm(java, classpath, work) + [
                "kgbench.Main", "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work),
                "--trace-file", str(trace_dir / f"{args.workload}-seed{args.seed}.jsonl")]
        log = work.parent / f"{work.name}.log"
        rc = run_jvm(cmd, log, JVM_TIMEOUT_S, relay)
    except Stopped as e:
        print(f"[kgbench] stopped: {e}", file=sys.stderr)
        return 3
    finally:
        if work is not None:
            shutil.rmtree(work, ignore_errors=True)

    if rc != 0:
        print(f"[kgbench] JVM exited with {rc}; log tail:", file=sys.stderr)
        print("\n".join(log.read_text().splitlines()[-30:]), file=sys.stderr)
        return rc
    log.unlink(missing_ok=True)
    if args.self_test:
        return 0
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        print("[kgbench] the JVM printed no result line", file=sys.stderr)
        return 4
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
