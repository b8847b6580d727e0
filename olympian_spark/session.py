"""SparkSession factory tuned for the engine.

Local mode is the test/bench proxy for a multi-executor cluster; every knob
here is chosen so the same code scales on 1000 executors:

- local mode sized to the host: ``SPARK_GRAFT_CPUS`` cores, else every CPU
  this process may run on,
- AQE on (runtime coalescing, skew-join splitting, runtime broadcasts),
- Arrow on (the custom kernels are ``mapInArrow`` operators over Arrow
  record batches),
- shuffle partitions ``max(2 x cores, 8)`` (on a real cluster this is
  ``max(2 x total-cores, input-partitions)`` — AQE coalesces down),
- :data:`FILE_CONF`: UTC session timezone (spine arithmetic must be
  tz-stable) and TIMESTAMP_MICROS parquet output (footer min/max bounds),
- parquet vectorized reader + pushdown left at defaults (on),
- Python workers forked from :mod:`olympian_spark.worker_daemon`.

The worker daemon removes a fixed per-task cost. Before every task a
PySpark worker calls ``importlib.invalidate_caches()``; on CPython 3.11/3.12
that re-parses the whole directory of every zip archive on the worker's
``sys.path`` (``pyspark.zip``, py4j, the spark-core jar, one importer per
sub-package): 0.11-0.35 s (median 0.22 s) per task on a 4-CPU VM, whatever
the task's rows, against 0.05 ms for the same call on the driver. A pipeline
run has at least 24 Python tasks. The daemon re-reads an archive only when
its mtime or size changed, so the call drops to ~0.1 ms; an identity
``mapInArrow`` over 300k rows in 8 partitions goes from 0.75 s to 0.21 s.
CPython >= 3.13 already re-reads lazily, and there the daemon changes
nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# SQL confs that shape the files a session writes; get_spark and the
# spark-submit job (scripts/run_refresh.py) both apply them. INT96, Spark's
# default timestamp type, carries NO parquet min/max statistics: it would
# blind the catalog's bucket_start bounds and row-group pruning.
FILE_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
}


def get_spark(
    app_name: str = "olympian_spark",
    cores: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

    # shuffle/spill to tmpfs when available: the sandbox's virtio disk
    # serializes concurrent shuffle writers (measured 2.5x on the QC stage);
    # on a real cluster this maps to executor-local NVMe
    local_dir = None
    if os.path.isdir("/dev/shm"):
        local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark_local")
        os.makedirs(local_dir, exist_ok=True)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        # local proxy: 2x cores. On a real cluster this would be sized to
        # the stage's input (AQE coalesces the excess).
        .config("spark.sql.shuffle.partitions", str(max(2 * cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Spark 4.1 AQE coalesces post-shuffle stages purely by BYTES
        # (parallelismFirst no longer overrides the advisory size), so a
        # CPU-dense but byte-small shuffle gets starved of parallelism:
        # measured, the 16M-row conv_id window exchange (~90MB compressed)
        # coalesced to 8 partitions on a 32-core machine, capping every
        # JVM stage after a shuffle at 8-way. Locally the advisory size is
        # therefore scaled down (bytes/target >= 2x cores for the engine's
        # window stages); on a real cluster shuffles are TBs and the 64MB
        # default is right — override it there via extra_conf.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # shuffle/spill codec: a deployment knob, measured both ways on the
        # 64M-turn pipeline (BENCH/codec_spike.py@5690513, interleaved
        # best-of-2):
        # zstd beats lz4 at BOTH levels per-window (1.09x at 8 cores, 1.03x
        # at 32) because tmpfs shuffle files are pure memory traffic — but
        # it helps the CPU-headroom level more, so it slightly compresses
        # the N-vs-4N ratio on this one-bus VM. Default stays Spark's lz4;
        # pass zstd via extra_conf (worth it on real clusters where shuffle
        # crosses disks/network).
        .config("spark.io.compression.codec", "lz4")
        .config(map=FILE_CONF)
        # columnar-cache compression is pure overhead for the tier table
        # build_tiers(persist=True) caches: its dominant bytes are Gorilla
        # blocks — already-compressed, high-entropy binary the cache codec
        # cannot shrink (guide: compression on high-entropy payloads).
        # Measured: cold persist+count of the 16M-turn tier frame 64s ->
        # 43s with compression off. A refresh caches only stage 1's narrow
        # numeric sort, which loses a little memory density; memory-tight
        # clusters flip it back to true via extra_conf.
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # grouped kernels stream per-group Arrow batches. 64k rows/batch
        # measured 1.08x (32 cores) / 1.15x (8 cores) over 10k on the fused
        # tier kernel at 16M turns (BENCH/arrowbatch_spike.py@5690513) —
        # fewer IPC round-trips per group; ~3MB per in-flight batch keeps
        # worker memory flat even for hot groups
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
        .config("spark.ui.enabled", "false")
        # fork Python workers from a daemon that skips the per-task re-read
        # of unchanged zip archives (see module docstring). The daemon starts
        # via ``python -m`` before any --py-files exist, so the package's
        # parent directory goes on the workers' path; local mode shares the
        # driver's filesystem. ``python -m`` would also put the working
        # directory first on that path, and an ``olympian_spark`` there would
        # then shadow the driver's: PYTHONSAFEPATH (CPython >= 3.11) keeps
        # it off.
        .config("spark.python.daemon.module", "olympian_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath())
        .config("spark.executorEnv.PYTHONSAFEPATH", "1")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _prewarm_python_workers(spark)
    return spark


def _worker_pythonpath() -> str:
    """This package's parent directory, ahead of the driver's PYTHONPATH."""
    parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.pathsep.join(p for p in (parent, os.environ.get("PYTHONPATH")) if p)


def _default_driver_mem() -> str:
    """Driver heap default: 24g, capped at half of the host's MemTotal.

    In local mode the driver JVM is every executor too, and Python workers,
    tmpfs shuffle files and the OS share the rest of the host; a 24g heap on
    a 16 GB host lets the JVM grow until the kernel OOM-kills it.
    """
    cap_mb = 24 * 1024
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    cap_mb = min(cap_mb, int(line.split()[1]) // 2048)  # kB -> MB / 2
                    break
    except OSError:
        pass  # no /proc (non-Linux): keep the 24g default
    return f"{cap_mb}m"


def _prewarm_python_workers(spark: SparkSession) -> None:
    """Fork the Python worker pool once at session startup.

    The first Arrow-kernel job otherwise pays one fork + pyarrow/numpy/
    pandas import per core INSIDE whatever is being timed (~4s of the
    pipeline benchmark's first run at 32 cores). Workers are reused
    (``spark.python.worker.reuse`` default), so one thimble-sized
    mapInArrow pass at startup moves that cost to session creation — the
    local-mode analogue of a cluster's long-lived executor pool. A worker
    setup that cannot run a kernel raises here, at session creation, not
    at the first kernel job.
    """
    n = spark.sparkContext.defaultParallelism

    def _touch(batches):
        import numpy  # noqa: F401  (prewarm the kernel imports)
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401

        yield from batches

    (
        spark.range(n, numPartitions=n)
        .mapInArrow(_touch, "id long")
        .write.format("noop").mode("overwrite").save()
    )
