"""Host shape, Spark session and process memory for the benchmark.

The session mirrors the SQL settings of ``s1tiling_spark.session.
build_session`` but differs in three deployment settings:

- the driver heap is derived from the host's memory (``heap_mb``), not
  the library's fixed default, which can exceed a small host's RAM;
- every scratch location (JVM temp dir, Spark local dirs, warehouse,
  event log, Python temp files) points inside the benchmark's work
  directory, so a run writes nothing outside its checkout;
- the package is put on the Python workers' path through
  ``PYTHONPATH`` instead of a zip written to ``/tmp``.
"""

from __future__ import annotations

import os
import sys
import time

GIB = 1024**3


def _read_int(path: str) -> int | None:
    try:
        with open(path) as f:
            raw = f.read().strip()
    except OSError:
        return None
    return int(raw) if raw.isdigit() else None


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_shape() -> dict:
    """CPUs, memory limits and library versions, recorded in every result."""
    import duckdb
    import pyarrow
    import pyspark

    return {
        "cpus": os.cpu_count(),
        "mem_total_gb": round(mem_total_bytes() / GIB, 2),
        "cgroup_memory_max_gb": (
            round(v / GIB, 2)
            if (v := _read_int("/sys/fs/cgroup/memory.max")) is not None
            else None
        ),
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }


def heap_mb() -> int:
    """Driver heap: a quarter of the usable memory, within [1, 8] GiB.

    Local mode runs executors inside the driver JVM, so this is the only
    heap; the rest of the memory is left to Python workers, the page
    cache and the other processes on the host."""
    limit = mem_total_bytes()
    cg = _read_int("/sys/fs/cgroup/memory.max")
    if cg is not None:
        limit = min(limit, cg)
    return int(min(8 * 1024, max(1024, limit // 4 // (1024 * 1024))))


def start_session(root: str, work: str, event_log: str | None):
    """Start a ``local[ncpu]`` session whose scratch files stay in ``work``.

    Returns ``(spark, seconds the start took)``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # naive datetimes (inputs, ranges, backfill windows) are UTC
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    # every JVM the launcher starts: no hsperfdata file in /tmp, and
    # native libraries (snappy, lz4) unpacked into the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    cpus = os.cpu_count() or 1
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_mb()}m")
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_log)
            .config("spark.eventLog.compress", "false")
        )
    t0 = time.perf_counter()
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session and wait until its JVM has exited (the JVM exits
    when its stdin, held by this process, closes)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _vm_hwm_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0


def peak_rss_gb(spark) -> float:
    """Peak resident memory (VmHWM) of the Spark JVM plus this Python."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    return (_vm_hwm_bytes(jvm_pid) + _vm_hwm_bytes(os.getpid())) / GIB


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path`` (data plus metadata)."""
    total = 0
    for base, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(base, fn))
    return total
