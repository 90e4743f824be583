"""Host fit, session set-up, memory reading and the operation ledger shared
by the three workloads."""

from __future__ import annotations

import contextlib
import os
import subprocess
import time
import traceback
from dataclasses import dataclass, field

from perfbench import config


@dataclass(frozen=True)
class Host:
    cores: int
    driver_mem_mb: int
    pyspark: str

    @classmethod
    def fit(cls) -> "Host":
        """Cores are the ones this process may run on (``nproc``); the
        driver heap stays well under host RAM."""
        import pyspark

        with open("/proc/meminfo", encoding="ascii") as f:
            total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        mem = min(config.DRIVER_MEM_MAX_MB, total_kb // 1024 // 4)
        return cls(len(os.sched_getaffinity(0)), mem, pyspark.__version__)


def prepare_env(root: str, work: str) -> None:
    """Make the program importable by Python workers and keep every
    temporary file inside the work directory. Must run before the JVM
    starts: the gateway and the workers inherit this environment."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    parts = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(parts)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None


def start_session(host: Host, work: str, sf_dir: str, shuffle_partitions: int | None = None,
                  cores: int | None = None):
    """``get_spark`` + ``load_tables``; returns (spark, session_s, tables_s)."""
    from twitter_event_stream_spark.session import get_spark
    from twitter_event_stream_spark.tables import load_tables

    tmp = os.path.join(work, "tmp")
    confs = {
        "spark.driver.memory": f"{host.driver_mem_mb}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap: the high-water memory and GC cost stop depending on
        # when the collector chose to grow it
        "spark.driver.extraJavaOptions": (
            f"-Xms{host.driver_mem_mb}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
    }
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench", cpus=cores or host.cores,
        shuffle_partitions=shuffle_partitions, extra_confs=confs,
    )
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    load_tables(spark, sf_dir)
    return spark, t1 - t0, time.perf_counter() - t1


def setup_sessions(host: Host, work: str, sf_dir: str, tracer,
                   shuffle_partitions: int | None = None):
    """Set up :data:`config.SETUP_REPEATS` times, stopping the previous
    session each time; returns the last session and the per-repeat
    (session_s, tables_s)."""
    spark, times = None, []
    for i in range(config.SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        with tracer.span("setup", request=f"setup-{i}"):
            spark, s, t = start_session(host, work, sf_dir, shuffle_partitions)
        times.append((s, t))
    return spark, times


def restart(spark, host: Host, work: str, sf_dir: str, **kw):
    spark.stop()
    return start_session(host, work, sf_dir, **kw)[0]


def warm_units(ctx, unit, minimum: int, warmup: int = 0) -> tuple[list, list]:
    """Run ``warmup`` unmeasured units, then measured units: at least
    ``minimum``, and more while another unit as long as the last one still
    ends within ``ctx.seconds``. A traced run first runs one measured unit
    untraced: the base of the tracing overhead. ``unit(k)`` gets a running
    index; returns (measured, untraced) results."""
    k = 0
    with ctx.tracing_off():
        for k in range(1, warmup + 1):
            unit(k)
    started = time.perf_counter()
    last = 0.0
    measured, untraced = [], []
    while len(measured) < minimum or time.perf_counter() - started + last <= ctx.seconds:
        k += 1
        t0 = time.perf_counter()
        if ctx.traced and not untraced:
            with ctx.tracing_off():
                untraced.append(unit(k))
        else:
            measured.append(unit(k))
        last = time.perf_counter() - t0
    return measured, untraced


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """High-water resident memory of this process plus the driver JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def shutdown(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


@dataclass
class Ledger:
    """Operations attempted and failed; a failed check counts as a failed
    operation."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    @contextlib.contextmanager
    def op(self, name: str):
        """Count one operation; an exception inside fails it and is kept."""
        self.attempted += 1
        try:
            yield
        except Exception:
            self.failed += 1
            self.errors.append(f"{name}: {traceback.format_exc(limit=3)}")

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check {name} failed {detail}")
