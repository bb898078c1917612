"""Start, observe and stop the program under test.

Everything the run writes (generated tables, Spark local dirs, the JVM's
temp dir, the program's scratch staging, event logs, checkpoints) lives in
one work directory inside the checkout, removed when the run ends.
"""

from __future__ import annotations

import os
import shlex
import shutil
import sys
import time

CPUS = 4


def work_dir(root: str) -> str:
    path = os.path.join(root, ".perfbench_work", str(os.getpid()))
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def remove_work(work: str) -> None:
    """Stop a JVM a failed run left up, then delete the run's work dir."""
    stop_if_running()
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # the last run out removes the parent
    except OSError:
        pass


def configure_env(work: str, event_log: bool) -> None:
    """Process environment for the JVM launch: 4 cores, all temp output
    under ``work``, no console progress bar, and (traced runs) an
    uncompressed event log — this Python has no zstd module to read one."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # No hsperfdata file under /tmp either.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
            }
        )
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def redirect_scratch(work: str) -> None:
    """Stage the program's scratch datasets under ``work`` instead of /tmp."""
    from kafka_spark_streaming_eval_spark import session

    original = session.scratch_dir
    base = os.path.join(work, "scratch")
    os.makedirs(base, exist_ok=True)
    session._SCRATCH_SWEPT = True  # nothing of ours is left under /tmp to sweep

    def scratch_dir(tag: str, *keys: str) -> str:
        return os.path.join(base, os.path.basename(original(tag, *keys)))

    session.scratch_dir = scratch_dir


def stop(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:
                pass
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()


def stop_if_running() -> None:
    """Stop the session and JVM if a failed run left them up."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    if SparkContext._gateway is not None:
        stop(SparkSession.getActiveSession() or SparkSession.builder.getOrCreate())


def heap_retained_mb(spark) -> float:
    """Driver JVM heap in use after full collections.  Python is collected
    first, so JVM objects that only dead Python proxies still pinned are
    released; the pauses let Spark's ContextCleaner drop the broadcasts and
    shuffles that the first collection made unreachable."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    for _ in range(3):
        jvm.System.gc()
        time.sleep(0.3)
    jvm.System.gc()
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return bean.getHeapMemoryUsage().getUsed() / (1024.0 * 1024.0)


def weather():
    """Steal and PSI stall over a span: the repo's own ``bench.StealMeter``
    (``read_steal_ticks`` / ``read_pressure_totals`` deltas)."""
    import bench

    return bench.StealMeter()


def steal_pct(w: dict) -> float:
    return w.get("steal_pct") or 0.0


def cpu_stall_ms(w: dict) -> float:
    return (w.get("pressure_stall_ms") or {}).get("cpu_some", 0.0)


STORM_STEAL_PCT = 2.0
STORM_STALL_SHARE = 0.25


def stormy(w: dict) -> bool:
    """A span ran under weather: >2% steal, or CPU-stalled for over a
    quarter of its wall time."""
    stall_s = cpu_stall_ms(w) / 1000.0
    return steal_pct(w) > STORM_STEAL_PCT or stall_s > STORM_STALL_SHARE * max(w["wall_s"], 1e-9)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
