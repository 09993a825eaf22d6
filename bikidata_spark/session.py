"""SparkSession factory tuned for the bikidata-spark engine.

Local testing runs on ``local[N]``; the same settings (AQE, adaptive
coalescing, Arrow) are the ones we'd ship to a real cluster — only
``master`` and memory sizing change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .graph import TERM_BUCKETS

# Spark's generated-class cache (static, default 100 entries). One batch
# pass (ingest, write, dedup, IVF store, events, text) compiles ~180-210
# distinct classes, so at the default a second pass in the same process
# recompiled nearly all of them. 1000 entries hold about five passes;
# measured at ~20-30 KB of driver heap per entry (local[4]), ~25 MB
# when full.
CODEGEN_CACHE_ENTRIES = 1000


def _fanout_bytes() -> int:
    """Bytes of (optimizer-estimated) input per fan-out partition.

    Env-tunable so deployments can match it to their operators'
    compute density; the default is sized for the expression-heavy
    operators that call :func:`ensure_parallelism` (shingling,
    hashing, vector math — 10-100x work amplification per input
    byte), measured at the knee of the r14 fan-out sweep
    (docs/BENCH_NOTES.md)."""
    return max(1, int(os.environ.get("BIKIDATA_SPARK_FANOUT_BYTES", str(256 << 10))))


def ensure_parallelism(df, min_partitions: int | None = None):
    """Fan a tiny input out toward the session's parallelism, sized by
    the DATA rather than the core count (guide §2.2/§6).

    A small parquet table arrives as ONE split, which would serialize
    every expression-heavy operator downstream (shingling, hashing,
    vector math) on a single core. At production scale inputs arrive in
    hundreds of splits and this is a no-op — we never repartition DOWN,
    so no shuffle is added where the source is already parallel.

    The fan-out TARGET is one partition per ``BIKIDATA_SPARK_FANOUT_BYTES``
    of the optimizer's size estimate, capped at the session's
    ``defaultParallelism`` (r14; was unconditionally
    ``defaultParallelism``). The old constant round-robined a 0.6 MB
    table into 32 partitions on a 32-core session, and every
    downstream stage then paid 32 task launches for kilobytes of work
    per task — the bench's fan-out-heavy sections measured ~3x slower
    at local[32] than local[8] on identical sf0.1 data. Deriving the
    width from the estimated bytes keeps the fan-out identical at
    every core count below the cap (scaling runs measure the engine,
    not a fan-out constant) and converges to exactly the old behavior
    wherever the input is big enough to use every core — so cluster
    deployments see no change. An unavailable or unparseable estimate
    falls back to the core count (the pre-r14 width, never narrower).

    Partition-count introspection goes through the JVM query execution
    (no ``df.rdd``, which would build a Python RDD wrapper and force a
    plan conversion per call); anything unavailable — e.g. under Spark
    Connect, where there is no SparkContext — degrades to returning the
    DataFrame untouched rather than failing."""
    if min_partitions is not None and min_partitions < 1:
        # 0 used to mean "full width" via `or defaultParallelism`; the
        # r14 `is not None` check silently changed it to "never
        # repartition". No caller passes it — reject instead of
        # guessing which meaning was intended (ADVICE r14).
        raise ValueError(f"min_partitions must be >= 1, got {min_partitions}")
    try:
        cores = df.sparkSession.sparkContext.defaultParallelism
        qe = df._jdf.queryExecution()
        n = qe.toRdd().getNumPartitions()
    except Exception:  # Spark Connect / remote session: no JVM handle
        return df if min_partitions is None else df.repartition(min_partitions)
    if min_partitions is not None:
        target = min_partitions
    else:
        target = cores
        try:
            est = int(str(qe.optimizedPlan().stats().sizeInBytes()))
            if est > 0:
                target = min(cores, -(-est // _fanout_bytes()))
        except Exception:
            pass  # no estimate: keep the conservative full-width fan-out
    if n < target:
        return df.repartition(target)
    return df


def get_spark(app_name: str = "bikidata-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE size CACHED plans' partitioning to the data too: a
        # dictionary table cached through a 32-partition shuffle at
        # small scale otherwise pins 32 near-empty partitions, and every
        # point-query scan pays 32 task launches for kilobytes of work;
        # at cluster scale the same setting leaves genuinely large
        # caches wide, so it is sizing, not shrinking
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # evaluate LIMIT over all partitions in one job: the default
        # try-1-partition-then-scale-up loop costs one scheduler
        # round-trip per escalation, which dominates point-query
        # latency (the engine's limits sit over already-filtered,
        # partition-pruned frames, so the all-at-once scan is cheap)
        .config("spark.sql.limit.initialNumPartitions", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # FAIR lets concurrent served queries round-robin executor slots
        # instead of FIFO head-of-line blocking (Serving sets a pool per
        # worker thread); FIFO remains the default for batch workloads
        .config("spark.scheduler.mode", os.environ.get("BIKIDATA_SPARK_SCHEDULER", "FIFO"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("BIKIDATA_SPARK_DRIVER_MEM", "8g"))
        # the tier build is the engine's one cap-bounded collect
        # (build_local_tier: bounded probes, then toPandas/toArrow);
        # deployments raising BIKIDATA_SPARK_LOCAL_TIER_BYTES (default
        # 2 GiB ≈ a 26M-quad row fence) past ~2.5 GiB push that collect
        # over Spark's 1g default result-size fence, so size the fence
        # with the budget (4g covers a 64M-quad mirror)
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("BIKIDATA_SPARK_MAX_RESULT", "4g"),
        )
        .config("spark.ui.enabled", "false")
        # PySpark otherwise records the Python call site of every Column
        # method: ~13 py4j round trips per op plus an IPython import
        # attempt (pyspark errors/utils.py _with_origin). DataFrame
        # errors then lose that Python call-site context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # list partition directories on the driver up to the widest
        # layout the engine writes (the terms dictionary's TERM_BUCKETS
        # directories; the FTS store's default num_buckets is the same
        # 64): past Spark's default of 32, every store open ran a
        # 64-task listing job. Wider user datasets still list in
        # parallel.
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", str(TERM_BUCKETS)
        )
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
