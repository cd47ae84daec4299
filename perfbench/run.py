"""Benchmark entry point.

    python3 perfbench/run.py --workload <pdf_extract|near_dup>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (perfbench/build.py),
then runs the workload in one JVM at local[nproc]. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}; --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer ones. The exit code is non-zero when an output check fails or
the run cannot complete. See perfbench/README.md.

    python3 perfbench/run.py --list-metrics   # metric catalog as JSON
    python3 perfbench/run.py --selftest       # the benchmark's own tests
"""
import argparse
import os
import pathlib
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("pdf_extract", "near_dup")
# one run must end within 180 s; leave room for the JVM to be reaped
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(main: str, args: list, work: pathlib.Path) -> list:
    classes = build.ensure_built()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [build.java(), f"-Xmx{HEAP}", "-Xss4m", *opens,
            f"-Dlog4j2.configurationFile={build.HERE / 'log4j2.properties'}",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", build.classpath(classes), main, *args]


def run_jvm(main: str, args: list, work: pathlib.Path, timeout: int) -> int:
    cmd = java_cmd(main, args, work)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=build.ROOT, start_new_session=True)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    old = signal.signal(signal.SIGTERM, lambda *a: (kill(), sys.exit(143)))
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"run: timed out after {timeout} s", file=sys.stderr)
        kill()
        proc.wait()
        return 124
    except KeyboardInterrupt:
        kill()
        proc.wait()
        return 130
    finally:
        signal.signal(signal.SIGTERM, old)
        kill()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--list-metrics", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not (a.workload or a.list_metrics or a.selftest):
        ap.error("--workload is required")
    if a.seconds < 1:
        ap.error("--seconds must be positive")
    work = build.BUILD_DIR / "work" / f"{a.workload or 'tool'}-{os.getpid()}"
    try:
        if a.list_metrics:
            return run_jvm("graftbench.Main", ["--list-metrics"], work, 60)
        if a.selftest:
            return run_jvm("graftbench.SelfTest", [], work, RUN_TIMEOUT_S)
        return run_jvm("graftbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work)], work, RUN_TIMEOUT_S)
    except build.BuildError as e:
        print(f"run: {e}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
