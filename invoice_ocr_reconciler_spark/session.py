"""SparkSession factory tuned for the extraction+reconciliation workload.

Local-mode sandbox today; the same configs scale to a multi-executor cluster
(the knobs that matter at 100 TB — AQE, Arrow batch caps, shuffle sizing —
are identical; only master/memory change under spark-submit).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow record-batch cap: html payloads are large (tens of KB each), so bound
# the rows per Arrow batch to keep executor + Python-worker memory flat.
ARROW_MAX_RECORDS_PER_BATCH = 2048

# ~128 MB of shuffle bytes per reduce task: the block size production
# submitters target so one task's hash map / sort buffer fits any
# reasonably-sized executor regardless of how few executors are running.
SHUFFLE_BLOCK_TARGET_BYTES = 128 * 1024 * 1024

# Stock shuffle-partition FLOOR, decoupled from core count. Shuffle
# partitioning is a DATA property, not a core-count property — the round-4
# executor rehearsal proved 2x-cores partitions (8 at local-cluster[2,2])
# concentrate a corpus-sized pair-join hash map into one task and OOM a
# correctly-sized 8 GB executor (PLANS.md 'rehearsal-exec'), and AQE can
# coalesce partitions but can NEVER split them. The floor is where the
# round-5 measurements landed, from both directions:
#
#   - a blanket WIDE start (AQE initialPartitionNum 1024, then 256) fixes
#     the OOM but taxes every multi-stage pipeline at small scale —
#     interleaved best-of-5 at sf0.1: hits 4.1s -> 10.2s at 1024 (2.3x);
#     reconcile +39%, bt_strengths +42%, corpus_build +40% at 256 (the
#     per-stage scheduler/fetch overhead times dozens of stages);
#   - 64 is the config the executor rehearsal PASSED with (r4 hand-pin,
#     now the stock value): all ten heavies at E=2/E=4 on 8 GB heaps,
#     containment_pairs@50k included, AND it is exactly what local[32]
#     already derived from 2x cores — so the bench regime is untouched.
#
# Below the floor AQE coalesces a shuffle's reducers to actual map-output
# bytes, persisted frames included: get_spark turns on
# spark.sql.optimizer.canChangeCachedPlanOutputPartitioning, which stock
# Spark leaves off. With it off a small cached frame runs 64 tasks per
# stage (a 2k-page reconcile batch: 1,672 tasks for its results, against
# 97 with it on). Coalescing keeps at least defaultParallelism partitions
# once a shuffle outgrows ~1 MB per core (coalescePartitions.
# parallelismFirst), so it narrows nothing at scale. Above the floor, 64 x 128 MB ≈ 8 GB per shuffle stage before a
# 100-TB submitter must raise it — via spark-submit --conf exactly as
# they raise shuffle.partitions, or programmatically via
# get_spark(data_bytes_hint=...) which sizes both knobs from input bytes
# (shuffle_partitions_for_bytes).
SHUFFLE_PARTITIONS_FLOOR = 64


def shuffle_partitions_for_bytes(
    input_bytes: int,
    min_parallelism: int = 8,
    target_bytes: int = SHUFFLE_BLOCK_TARGET_BYTES,
    expansion: float = 1.0,
) -> int:
    """Data-aware shuffle partition count: ~one ``target_bytes`` block per
    reduce task, never below ``min_parallelism``.

    Use this to size ``get_spark(data_bytes_hint=...)`` / explicit
    ``shuffle_partitions`` for a job whose input size is known up front
    (e.g. a backfill over N bytes of pages). ``expansion`` is the
    operator's shuffle-bytes-to-input-bytes ratio for workloads known to
    expand (pair generation, posexplode) — for unknown expansion prefer
    the stock session, whose AQE initial-partition sizing works from
    actual map-output bytes instead of estimates."""
    if input_bytes < 0:
        raise ValueError(f"input_bytes must be >= 0, got {input_bytes}")
    blocks = -(-int(input_bytes * expansion) // target_bytes)  # ceil
    return max(int(min_parallelism), blocks, 1)


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
    data_bytes_hint: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores.

    Shuffle sizing (stock): ``spark.sql.shuffle.partitions`` =
    ``max(2 x total cores, SHUFFLE_PARTITIONS_FLOOR)`` with AQE starting
    every coalescible shuffle there and coalescing from real map-output
    bytes — the floor decouples width from core count, so a 2-executor
    session running a corpus-sized pair join no longer concentrates the
    corpus into core-count partitions (the round-4 rehearsal OOM), while
    small jobs coalesce down and pay nothing. That holds for persisted
    frames too: ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning``
    is on, so AQE may also coalesce the shuffle under a cached plan (stock
    Spark keeps a cached frame at the full width). Passing ``data_bytes_hint``
    (job input bytes) raises the floor via
    ``shuffle_partitions_for_bytes``; passing ``shuffle_partitions``
    explicitly pins BOTH knobs to exactly that value (tests / plan pins
    rely on an exact count).

    ``executors``: when set, use ``local-cluster[executors, cores,
    executor_mem_mb]`` — SEPARATE executor JVM processes (own GC, allocator,
    Python worker pool) instead of threads in one JVM. This is the faithful
    in-sandbox analog of an N-executor cluster and what the N-vs-4N scaling
    evidence runs on; ``cores`` then means cores PER executor.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    total = cores * (executors or 1)
    if shuffle_partitions is None:
        # stock: core-decoupled floor (see SHUFFLE_PARTITIONS_FLOOR);
        # AQE coalesces small shuffles down from it, and a
        # data_bytes_hint raises it for known-big jobs.
        shuffle_partitions = max(2 * total, SHUFFLE_PARTITIONS_FLOOR)
        if data_bytes_hint is not None:
            shuffle_partitions = max(
                shuffle_partitions,
                shuffle_partitions_for_bytes(data_bytes_hint),
            )
    # AQE starts every coalescible shuffle at the same count (an explicit
    # pin keeps exact reduce-task counts for determinism tests/goldens)
    initial_partitions = shuffle_partitions

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
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(initial_partitions),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
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
