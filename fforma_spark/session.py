"""SparkSession factory tuned for the rollup engine.

Local-mode defaults mirror what a cluster deployment would set via
spark-submit --conf; everything here is also correct on a real
multi-executor cluster (AQE, Arrow, skew-join handling).
"""

from __future__ import annotations

import os

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession


def _default_shuffle_partitions(master: str, cpus: int) -> int:
    """Match shuffle parallelism to the execution width: the local[N]
    thread count when local, else the env-declared core budget (a real
    cluster sizes this via --conf; AQE coalesces small partitions at
    runtime either way)."""
    if master.startswith("local[") and master.endswith("]"):
        # local[N], local[*], and local[N,maxFailures] forms
        n = master[6:-1].split(",")[0]
        return cpus if n == "*" else int(n)
    return cpus


def _host_memory_bytes() -> int:
    """Physical memory (MemTotal, via sysconf), capped by a cgroup v2 or
    v1 memory limit when one is set."""
    limit = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    for path in (
        "/sys/fs/cgroup/memory.max",
        "/sys/fs/cgroup/memory/memory.limit_in_bytes",
    ):
        try:
            with open(path) as f:
                limit = min(limit, int(f.read()))
        except (OSError, ValueError):  # no such cgroup, or "max"
            pass
    return limit


def _default_driver_mem() -> str:
    """A quarter of the host's memory, 1-16 GiB: the heap is pre-touched
    at start, and the Python workers (one per core) need the rest."""
    mb = _host_memory_bytes() // 4 // 2**20
    return f"{max(1024, min(16384, mb))}m"


def driver_mem() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM``, else :func:`_default_driver_mem`."""
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()


def driver_jvm_conf(mem: str) -> dict[str, str]:
    """The local-mode driver JVM's settings for a heap of ``mem``, read
    by :func:`get_spark` and by the scaling bench's spark-submit legs.

    Single-JVM local mode: many task threads contend on the process
    mmap_lock (measured: threads stuck in lock_mm_and_find_vma/
    __vm_munmap during shuffles). Fixed, pre-touched heap + ParallelGC
    (never uncommits regions) + no shuffle-block mmap removes the
    mmap/munmap churn. Irrelevant-but-harmless on a real cluster
    (executor JVMs are sized with Xms=Xmx there anyway).
    """
    return {
        "spark.driver.extraJavaOptions":
            f"-Xms{mem} -XX:+AlwaysPreTouch -XX:+UseParallelGC",
        "spark.storage.memoryMapThreshold": "2g",
    }


def get_spark(
    app_name: str = "fforma_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Under spark-submit (detected via the py4j gateway env), the
    submitted ``--master`` wins; as a plain python process ``master``
    defaults to ``local[$SPARK_GRAFT_CPUS]``. Explicit arguments
    override both. Unset, ``SPARK_GRAFT_CPUS`` is the number of cores
    this process may run on and ``SPARK_GRAFT_DRIVER_MEM`` is
    :func:`_default_driver_mem`. A driver JVM that cannot start raises
    ``RuntimeError`` naming the heap it was asked for.
    """
    cpus = int(
        os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    )
    # Under spark-submit the driver JVM already exists (py4j gateway
    # env vars are set) and carries the submitted --master; forcing
    # local[N] here would silently turn a cluster job into a local
    # one. Only default to local[$SPARK_GRAFT_CPUS] when launched as
    # a plain python process.
    under_submit = "PYSPARK_GATEWAY_PORT" in os.environ
    if master is None and not under_submit:
        master = f"local[{cpus}]"

    mem = driver_mem()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        # numpy kernels inside pandas UDFs must not oversubscribe BLAS
        # (reference pins BLAS to 1 thread: fforma/utils/utils.py:28-32)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    for k, v in {**driver_jvm_conf(mem), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    try:
        spark = builder.getOrCreate()
    except PySparkRuntimeError as exc:
        if exc.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        raise RuntimeError(
            "the driver JVM exited at start-up; it was asked for a "
            f"pre-touched heap of -Xms{mem}. Set SPARK_GRAFT_DRIVER_MEM "
            "to a heap size this host can reserve (e.g. 2g)."
        ) from exc
    if shuffle_partitions is not None:
        # explicit request on a possibly-reused session: the builder
        # config above landed in the runtime conf; clear the auto
        # marker so later default calls never clobber this value
        spark.conf.set("spark.fforma.autoShufflePartitions", "")
    elif not spark.sparkContext.getConf().contains(
        "spark.sql.shuffle.partitions"
    ):
        # No explicit setting in the context conf (this call /
        # spark-submit --conf / the builder that CREATED the session).
        # A reused session can also carry an explicit value only in
        # the RUNTIME conf (builder.config on getOrCreate of an
        # existing session, or a user's spark.conf.set) — never
        # clobber that either: only overwrite the stock Spark default
        # or the exact value this function itself last auto-set (the
        # marker stores that value, so any user change — even via
        # spark.conf.set — differs and is preserved; the one
        # undetectable case is a user explicitly asking for the stock
        # "200", which is indistinguishable from never-configured).
        current = spark.conf.get("spark.sql.shuffle.partitions", "200")
        last_auto = spark.conf.get("spark.fforma.autoShufflePartitions", "")
        if current == "200" or current == last_auto:
            val = str(
                _default_shuffle_partitions(spark.sparkContext.master, cpus)
            )
            spark.conf.set("spark.sql.shuffle.partitions", val)
            spark.conf.set("spark.fforma.autoShufflePartitions", val)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def warm_python_workers(spark: SparkSession) -> None:
    """Launch the pyspark worker daemon while the JVM heap is still
    small.

    In local mode the daemon is forked from the (single) JVM at the
    FIRST Python stage; once the driver heap has grown (e.g. after a
    cached cascade) that fork costs tens of seconds of page-table
    copying. Spawning the daemon up front makes every later pandas-UDF
    stage fork from the small resident daemon instead. No-op cost
    ~3-6s once per process; saves ~10x that on the first kernel stage.
    """
    import pandas as pd  # noqa: F401

    n = spark.sparkContext.defaultParallelism

    def _noop(it):
        for pdf in it:
            yield pdf

    spark.range(0, n, 1, n).mapInPandas(_noop, "id long").count()
