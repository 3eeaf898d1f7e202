"""SparkSession factory tuned for the extraction+reconciliation workload.

Local mode here; the same configs carry to a multi-executor cluster, where
only master, memory and the shuffle width change under spark-submit. The
session sets only what differs from Spark's defaults (see ``get_spark``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow record-batch cap: html payloads are large (tens of KB each), so bound
# the rows per Arrow batch to keep executor + Python-worker memory flat.
ARROW_MAX_RECORDS_PER_BATCH = 2048


def default_driver_memory() -> str:
    """A quarter of physical memory, at most 4g and at least 1g.

    In local mode the driver JVM holds every executor thread, so its heap
    must leave room for the Python workers and the OS; a runaway plan then
    fails its own job with an OutOfMemoryError instead of growing the JVM
    until the OS kills it. ``SPARK_GRAFT_DRIVER_MEM`` overrides this."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total // (4 * 1024**3)))}g"


def iceberg_confs(env: dict) -> dict[str, str]:
    """Iceberg catalog gate configs (empty when no jar is provided).

    Split out so the gate's config assembly is unit-testable without a
    second SparkSession (getOrCreate ignores configs once a session
    exists); the jar itself is absent in the sandbox — see PLANS.md
    'Iceberg runtime attempt'."""
    jar = env.get("SPARK_GRAFT_ICEBERG_JAR")
    if not jar:
        return {}
    return {
        "spark.jars": jar,
        "spark.sql.catalog.local": "org.apache.iceberg.spark.SparkCatalog",
        "spark.sql.catalog.local.type": "hadoop",
        "spark.sql.catalog.local.warehouse": env.get(
            "SPARK_GRAFT_WAREHOUSE", "/tmp/iceberg_warehouse"
        ),
    }


def get_spark(
    app_name: str = "invoice_ocr_reconciler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    executors: int | None = None,
    executor_mem_mb: int = 4096,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores.

    ``spark.sql.shuffle.partitions`` defaults to 2 x total cores, where
    AQE starts every shuffle and coalesces it down to the real map-output
    bytes; a job too big for that width is widened by its submitter with
    ``--conf spark.sql.shuffle.partitions=...``. AQE coalesces persisted
    frames too: ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``
    is on (stock Spark keeps a cached frame at the full width). An explicit
    ``shuffle_partitions`` pins the width exactly (tests and goldens rely on
    an exact count).

    ``executors``: when set, use ``local-cluster[executors, cores,
    executor_mem_mb]`` — SEPARATE executor JVM processes (own GC, allocator,
    Python worker pool) instead of threads in one JVM. This is the faithful
    in-sandbox analog of an N-executor cluster and what the N-vs-4N scaling
    evidence runs on; ``cores`` then means cores PER executor.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = 2 * cores * (executors or 1)

    # Python WORKERS do not inherit the driver's sys.path — a caller that
    # imported this package via sys.path manipulation from another cwd would
    # die with ModuleNotFoundError inside UDF unpickling. Export the repo
    # root on PYTHONPATH BEFORE the JVM (and its worker daemon) launches so
    # forked workers resolve the package regardless of cwd. On a real
    # cluster --py-files ships the zip instead (Makefile `package`).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )

    master = (
        f"local-cluster[{executors},{cores},{executor_mem_mb}]"
        if executors
        else f"local[{cores}]"
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    # Iceberg is the production catalog (hash-bucketed tables, snapshot
    # commits). The runtime jar is not shipped in this sandbox, so the gate
    # stays off unless the submitter provides it via --packages.
    for k, v in iceberg_confs(os.environ).items():
        builder = builder.config(k, v)
    if executors:
        # executor JVMs are separate processes: ship the driver's FULL
        # PYTHONPATH (repo root was prepended above; user entries like
        # extra UDF libs must survive too — local[] threads inherit the
        # env, these don't). Real clusters use --py-files instead.
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"]
        )
        # local-cluster[E, C, M] sets the WORKER's memory budget only; the
        # executor JVM still launches with the 1g spark.executor.memory
        # default. Round-4 executor-mode rehearsal found this the hard way:
        # "8g" executors showed ~880MB peak heaps and died growing a
        # BytesToBytesMap. Pin the heap to the requested size.
        builder = builder.config("spark.executor.memory", f"{executor_mem_mb}m")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
