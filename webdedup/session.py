"""SparkSession factory with scale-minded defaults.

Local-mode testing stands in for a multi-executor cluster: shuffle partition
count tracks core count, AQE handles runtime coalescing + skew-join splits,
Arrow is on for every pandas-UDF boundary, and the session timezone is pinned
UTC so DuckDB oracle comparisons are stable.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import SparkSession

# MEASURED ENVIRONMENT PATHOLOGY: huge-page faults on this VM run ~500x
# slower than base-page faults (~0.8 ms per 2 MB-backed touch vs ~2 us).
# numpy madvises MADV_HUGEPAGE for every large allocation by default, which
# made each worker's FIRST big numpy temporary cost 20-40 s (measured; same
# root cause made -XX:+UseTransparentHugePages 10x-slow the JVM).  Disabling
# the madvise restores normal allocation speed; harmless on healthy hosts
# (huge pages only help TLB pressure marginally for our streaming access
# patterns).  Must be set in the driver env BEFORE numpy workers spawn, and
# shipped to python workers via executorEnv.
os.environ.setdefault("NUMPY_MADVISE_HUGEPAGE", "0")


def _heap_for(cores: int) -> str:
    """Heap sized to the parallelism level: per-core GB x cores (min 16 GB).

    local[N] stands in for an N-executor cluster, and a cluster scaled from
    N to 4N executors brings 4x the total memory with it — each executor's
    heap is fixed, their COUNT grows.  A fixed local heap instead starves
    every task of execution memory as cores rise (at 16 GB, local[32] gives
    each task ~0.3 GB vs local[8]'s 1.2 GB), so the wide-array sort-merge
    stages spill/thrash precisely when parallelism doubles — measured on the
    150k-page corpus: the minhash candidate stage ran SLOWER at local[32]
    (97 s) than at local[8] (78 s) under a shared 16 GB heap.  2 GB/core
    matches a typical production executor shape (4-8 cores, 8-16 GB).

    Overrides: SPARK_DRIVER_MEMORY pins an absolute size,
    SPARK_DRIVER_MEMORY_PER_CORE_GB changes the per-core rate.
    """
    fixed = os.environ.get("SPARK_DRIVER_MEMORY")
    if fixed:
        return fixed
    per_core = float(os.environ.get("SPARK_DRIVER_MEMORY_PER_CORE_GB", "2"))
    return f"{max(int(per_core * cores), 16)}g"


def get_spark(
    app_name: str = "webdedup",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    pretouch_gb: int | None = None,
) -> SparkSession:
    """Session factory.

    pretouch_gb: if set, pin the JVM heap (-Xms=-Xmx + -XX:+AlwaysPreTouch).
    Kept for experimentation only — measured NET-NEGATIVE on this sandbox
    once the VM's frame pool is prewarmed (BENCH/prewarm.py): a pretouched
    6 GB heap made the first real job 12x slower (75.8 s vs 6.5 s).  The
    effective mitigations are prewarm.py + NUMPY_MADVISE_HUGEPAGE=0 +
    warm_python_workers().
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # 4x the core count: AQE coalesces small stages back down for free,
        # while wide-array stages (gram/sketch tables, pair distincts) get
        # per-partition hash maps that FIT — at shuffle_partitions == cores
        # a 150k-doc run dies allocating 1 GB BytesToBytesMap pages at
        # local[8] (8 giant partitions, 16 GB heap)
        shuffle_partitions = max(4 * cores, 32)

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.NUMPY_MADVISE_HUGEPAGE", "0")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config(
            "spark.driver.memory",
            f"{pretouch_gb}g" if pretouch_gb else _heap_for(cores),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # this sandbox VM's host reclaims idle guest frames; a full GC that
        # re-faults a 16 GB heap can stall the driver's RPC threads past the
        # default 120 s network timeout, after which Spark declares the
        # driver dead and tears the job down mid-run (observed: local[8] on
        # the 150k-page bench corpus).  Same mitigation as for long GC
        # pauses on big-heap executors in production: raise the timeouts.
        # shuffle-file cleanup rides on driver GC; a large heap can go a
        # whole pipeline run without one, leaking tens of GB of finished
        # shuffle files — ask the ContextCleaner to force a GC periodically
        .config("spark.cleaner.periodicGC.interval", "5min")
        .config("spark.network.timeout", "600s")
        .config("spark.rpc.askTimeout", "600s")
        .config("spark.rpc.lookupTimeout", "600s")
    )
    # GC: the throughput collector, not the default G1.  Event logs showed
    # jvmGcTime inflating 22 s -> 1111 s going local[8] -> local[32] on the
    # same 150k-page job (the signatures stage alone spent 530 s in GC) —
    # G1's concurrent region evacuation collapses under this workload's
    # allocation churn (Arrow batches, columnar cache build, wide-array
    # rows) once dozens of mutator threads share one heap.  Measured
    # head-to-head at local[32], same input, same output checksum
    # (BENCH/gc_matrix.sh): G1 258.7 s vs ParallelGC 116.2 s — 2.2x.  A
    # batch engine has no pause-time SLO, which is the only thing G1 buys;
    # stop-the-world parallel compaction is the right trade on executors
    # exactly as it is here.  SPARK_DRIVER_JAVA_OPTS overrides (a GC choice
    # there wins — two selectors would abort the JVM).
    java_opts = os.environ.get("SPARK_DRIVER_JAVA_OPTS", "")
    if "GC" not in java_opts:
        java_opts = f"-XX:+UseParallelGC {java_opts}"
    if pretouch_gb:
        java_opts = f"-Xms{pretouch_gb}g -XX:+AlwaysPreTouch {java_opts}"
    if java_opts.strip():
        builder = builder.config("spark.driver.extraJavaOptions", java_opts.strip())
    # SPARK_EXTRA_CONF="k=v;k=v": experiment hook (BENCH gc/off-heap matrix)
    for kv in os.environ.get("SPARK_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    if os.environ.get("SPARK_EVENTLOG"):
        # diagnostics hook used by BENCH + scripts/analyze_eventlog.py
        os.makedirs("/tmp/spark-events", exist_ok=True)
        builder = builder.config("spark.eventLog.enabled", "true").config(
            "spark.eventLog.dir", "file:///tmp/spark-events"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def warm_python_workers(spark: SparkSession, cores: int | None = None) -> None:
    """Spawn and warm the full python-worker pool with one throwaway
    pandas-UDF job that also imports the engine's hot modules.

    Worker cold-start on this sandbox costs ~15 s of kernel time per worker
    (measured: ~16k minor faults at ~1 ms each while the VM's memory is
    cold), all of which lands on whichever stage first runs a pandas UDF.
    Real clusters pay an analogous (smaller) cost once per executor; warming
    outside the timed region is standard bench practice and the workers are
    reused for the session's lifetime (spark.python.worker.reuse default).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if cores is None:
        cores = spark.sparkContext.defaultParallelism

    @F.pandas_udf(T.LongType())
    def _warm(x: pd.Series) -> pd.Series:
        import webdedup.features  # noqa: F401
        import webdedup.signatures  # noqa: F401
        import webdedup.substring  # noqa: F401

        return x

    (
        spark.range(cores * 4, numPartitions=cores)
        .select(_warm(F.col("id")))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
