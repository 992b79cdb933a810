"""Process environment shared by every workload: where the benchmark may
write, how the Spark JVM is configured from outside the program (its own
configuration directory), and small statistics helpers."""

from __future__ import annotations

import os
import shutil
import statistics
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def process_age() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat", "rb") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rfind(b")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        up = float(fh.read().split()[0])
    return up - start_ticks / os.sysconf("SC_CLK_TCK")


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "xenoeye_spark", "__init__.py"))


def prepare(workload: str, seed: int, trace: bool) -> str:
    """Fresh work directory for this run; points Spark's temp, local and
    configuration directories inside it. Returns the directory."""
    run_dir = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "conf", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    conf = os.path.join(run_dir, "conf")
    lines = [
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp} "
        "-XX:-UsePerfData",
        f"spark.local.dir {os.path.join(run_dir, 'spark-local')}",
    ]
    if trace:
        lines += [
            "spark.eventLog.enabled true",
            # plain JSON lines, readable with the standard library
            "spark.eventLog.compress false",
            f"spark.eventLog.dir file://{os.path.join(run_dir, 'eventlog')}",
        ]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(os.path.join(conf, "log4j2.properties"), "w") as fh:
        fh.write("rootLogger.level = error\n"
                 "rootLogger.appenderRef.stderr.ref = console\n"
                 "appender.console.type = Console\n"
                 "appender.console.name = console\n"
                 "appender.console.target = SYSTEM_ERR\n"
                 "appender.console.layout.type = PatternLayout\n"
                 "appender.console.layout.pattern = %d %p %c: %m%n\n")
    env = os.environ
    # spark-submit's short-lived launcher JVM: no perf-data file in /tmp
    env["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env["SPARK_CONF_DIR"] = conf
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    env["TMPDIR"] = tmp
    env["SPARK_GRAFT_CPUS"] = str(ncpu())
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = tmp
    return run_dir


def stop_spark(spark) -> None:
    """Stop the session, then its JVM: the gateway JVM exits when its
    stdin closes, and is waited for so no process outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def cleanup(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.rmdir(WORK)
    except OSError:
        pass


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(round(q / 100 * len(s) + 0.5)) - 1))
    return float(s[k])


def wait_for(cond, timeout: float, step: float = 0.05) -> bool:
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        if cond():
            return True
        time.sleep(step)
    return cond()
