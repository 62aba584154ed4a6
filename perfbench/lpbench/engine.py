"""SparkSession lifecycle for benchmark runs.

Every file the run touches stays under the benchmark's work directory:
Spark's local dirs, the JVM temp dir, the warehouse dir and (traced runs
only) the event log. The JVMs run without ``hsperfdata`` files, which
would otherwise land in the system temp dir. ``shutdown`` stops the session and then waits for the
gateway JVM to exit, so no process outlives the run."""

from __future__ import annotations

import os
import subprocess
import time
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent.parent
REPO_ROOT = BENCH_DIR.parent
WORK = BENCH_DIR / ".work"
RESULTS = BENCH_DIR / "results"


def _jvm_opts() -> str:
    return f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"


def prepare_env() -> None:
    """Pin paths and time zone before the first JVM starts."""
    for d in ("spark-local", "tmp", "eventlog"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LAUNCHER_OPTS"] = _jvm_opts()
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["TZ"] = "UTC"
    time.tzset()


def master() -> str:
    return f"local[{len(os.sched_getaffinity(0))}]"


def start_session(event_log: bool = False):
    """Build the session through the program's own ``get_spark``. Returns
    (spark, seconds from the pyspark import to a live session)."""
    t0 = time.perf_counter()
    from logprocessor_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": _jvm_opts(),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.eventLog.enabled": "true" if event_log else "false",
        "spark.eventLog.dir": str(WORK / "eventlog"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    spark = get_spark(app_name="perfbench", master=master(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm: int) -> float:
    """Peak resident set (VmHWM) of this Python driver plus its JVM."""
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm)) / 1024.0


def cpu_seconds(jvm: int) -> float:
    """User + system CPU consumed so far by this Python driver and its JVM."""
    with open(f"/proc/{jvm}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    t = os.times()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + t.user + t.system


def shutdown(spark) -> None:
    """Stop the session, close the py4j gateway and wait for its JVM."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
