"""Session and op bookkeeping shared by the end-to-end runs and the traced
tour."""

from __future__ import annotations

import os
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def driver_mem() -> str:
    """A driver heap that fits the host: a sixth of its memory, at most 2 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(512, min(2048, total_kb // 1024 // 6))}m"


def isolate(tmp: str) -> None:
    """Point every scratch location of Spark, its Python workers and this
    process at ``tmp``. Must run before pyspark starts its JVM."""
    for sub in ("py", "local", "java"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        TMPDIR=os.path.join(tmp, "py"),
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # the mapInPandas workers import etl_expenses_spark by name
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
        SPARK_GRAFT_DRIVER_MEM=driver_mem(),
        # every JVM, the launcher's too: no hsperfdata files in /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(tmp, 'java')}",
        TZ="UTC",
    )
    time.tzset()
    tempfile.tempdir = None


def start_session(tmp: str):
    """The engine's session on every core of this host; returns once the
    first job has run."""
    from etl_expenses_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cpus=len(os.sched_getaffinity(0)),
        extra_conf={"spark.sql.warehouse.dir": os.path.join(tmp, "warehouse")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end its JVM and wait until the JVM and every Python
    worker it started have exited."""
    from pyspark import SparkContext

    from perfbench.trace import live_children

    pids = live_children()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


class Tally:
    """Attempted and failed ops, and the latency of those that succeeded."""

    def __init__(self) -> None:
        self.attempted = self.failed = self.rows = 0
        self.latencies: list[float] = []
        self.wall = 0.0

    def op(self, w, item, tracer=None):
        """Run and check one op. Returns its output, or None if it failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = w.run(item, tracer)
        except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
            self.wall += time.perf_counter() - t0
            self.failed += 1
            traceback.print_exc()
            return None
        dt = time.perf_counter() - t0
        self.wall += dt
        try:
            w.check(item, out)
        except Exception as e:  # noqa: BLE001 - Mismatch, or the check's own engine failing
            self.failed += 1
            print(f"{w.name}: wrong output: {e}", file=sys.stderr)
            return None
        self.latencies.append(dt)
        self.rows += w.rows(out)
        return out


def final_check(w) -> bool:
    try:
        w.final_check()
        return True
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        return False


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}
