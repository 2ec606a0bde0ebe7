"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the cpus
this process may run on, :func:`default_cpus`); the
configs below are the ones that matter identically on a real cluster:
AQE (runtime re-plan + skew-join handling), Arrow for all
pandas/NumPy-backed operators, and a shuffle-partition count sized to
the parallelism at hand (on a 1000-executor cluster this would be set
to a multiple of total cores, not 32).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SHIPPED: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on Spark Python workers.

    Our ``applyInPandas`` / ``mapInArrow`` functions live at module
    level, so cloudpickle serializes them *by reference* — workers must
    be able to ``import sigmod_2024_contest_spark``. The grading driver
    imports ``__spark_entry__.py`` by file path from an arbitrary cwd,
    so we zip the package and ``addPyFile`` it (idempotent per app).
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # Content-addressed zip name: a PID- or app-keyed name can collide
    # with a STALE zip left in tmp by an earlier process (PIDs recycle),
    # silently shipping old code to the workers. Hashing the sources
    # makes reuse safe and rebuilds exactly when the package changed.
    import hashlib

    srcs = []
    for root, _, files in os.walk(pkg_dir):
        for f in sorted(files):
            if f.endswith(".py"):
                srcs.append(os.path.join(root, f))
    digest = hashlib.sha256()
    for full in sorted(srcs):
        digest.update(full.encode())
        with open(full, "rb") as fh:
            digest.update(fh.read())
    zpath = os.path.join(
        tempfile.gettempdir(),
        f"sigmod_2024_contest_spark_{digest.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(zpath):
        tmp = zpath + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as z:
            for full in srcs:
                z.write(full, os.path.relpath(full, os.path.dirname(pkg_dir)))
        os.replace(tmp, zpath)  # atomic: concurrent sessions see full zips
    spark.sparkContext.addPyFile(zpath)
    _SHIPPED.add(app_id)


def default_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the cpus this process may run on — a
    fixed default oversubscribes a small host (``local[32]`` on 4 vCPUs)
    and leaves a large one idle."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "sigmod2024-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """``shuffle_partitions``: size to the data, not the core count —
    on a cluster you set a multiple of (input bytes / 128 MB); at tiny
    scale factors fewer, larger partitions cut per-task scheduling
    overhead, which dominates multi-stage plans there. Defaults to
    ``SPARK_GRAFT_SHUFFLE`` or ``cpus``."""
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", str(cpus)))
    # One BLAS thread per Python worker: Spark already runs `cpus`
    # workers in parallel; letting each spawn a full OpenBLAS/MKL pool
    # oversubscribes the box ~cpus× in every GEMM kernel. Workers are
    # forked from the daemon, which inherits this env.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    # Keep large NumPy buffers in the worker's malloc arena instead of
    # mmap/munmap per allocation (glibc's default threshold sends every
    # ≥128 KB block to mmap): the GEMM kernels allocate ~64 MB distance
    # blocks per corpus chunk, and with the default thresholds every
    # chunk re-faults those pages — measured r13 at the contest shape,
    # the warm corpus-broadcast exact leg runs 15-30 s with the default
    # and 4.2-4.7 s with a 1 GiB threshold (OPTIMIZATION_r13.md). This
    # is per-worker-process behavior, identical on a cluster (size
    # executor memoryOverhead to the retained arena: ≤ threshold per
    # worker). Override/disable via SPARK_GRAFT_MALLOC_ARENA_MB=0.
    # Sessions NOT created here (the driver-contract __spark_entry__
    # path, where executorEnv is frozen before this package loads) get
    # the same tuning at first kernel call via mallopt in the live
    # worker — operators.knn.tune_worker_arena.
    try:
        arena_mb = int(os.environ.get("SPARK_GRAFT_MALLOC_ARENA_MB", "1024"))
    except (TypeError, ValueError):
        arena_mb = 1024
    malloc_env = {}
    if arena_mb > 0:
        for var in ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_"):
            os.environ.setdefault(var, str(arena_mb << 20))
            # propagate the EFFECTIVE value (a user-exported threshold
            # wins on the driver via setdefault — workers must agree)
            malloc_env[var] = os.environ[var]
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
    )
    for var, val in malloc_env.items():
        builder = builder.config(f"spark.executorEnv.{var}", val)
    return (
        builder
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Pin UTC so TIMESTAMP_NTZ→TIMESTAMP casts (events loader) and
        # collected datetimes are host-timezone independent.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local mode runs every executor thread inside the driver JVM,
        # so this is the whole engine's memory: size it to the host
        # (the contest-scale candidate merge alone sorts nq×k×P rows)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def tune_for_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs we rely on to a session we did not create
    (the driver hands us one in ``__spark_entry__``)."""
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ship_package(spark)
    return spark
