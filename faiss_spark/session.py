"""SparkSession factory with scale-appropriate defaults.

Local testing runs a single JVM (``local[N]``); the configs below are the
same ones we would set on a real cluster: AQE for runtime re-planning and
skew handling, Arrow for the Pandas-UDF boundary, shuffle partitions sized
to cores rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory that holds the ``faiss_spark`` package, put on the
#: workers' PYTHONPATH so they import it whatever the driver's cwd
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory() -> str:
    """``spark.driver.memory`` unless SPARK_DRIVER_MEM is set: half of
    physical memory, capped at 16g, so the JVM collects garbage (or
    raises OutOfMemoryError) before the kernel's OOM killer ends it."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 << 10, phys // 2 >> 20)}m"


def get_spark(app_name: str = "faiss_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Initial shuffle granularity is WORKLOAD-KEYED, not one-size:
        # the r8 line_dedup skew probe measured a 50M-row sort-merge join
        # at fixed 32 partitions spilling into a 12.5× wall at 5× data,
        # restored to ~linear at 256 — but the r9 interleaved A/B
        # (SCALE.md, "Round-9 settlement of the AQE initialPartitionNum
        # default": 5 paired draws × 15 headline queries at
        # sf0.1) measured the 256 default costing 1.24× overall with
        # consistent 4/5-sign losers up to 1.74× (knn_tabular) — AQE
        # coalescing does not refund the per-block overhead of 8× more
        # map outputs on second-scale queries. Default = cpus (the
        # bench-scale winner); big-corpus jobs set
        # SPARK_GRAFT_INITIAL_PARTITIONS (the scale probe does, and a
        # 100 TB deployment would set the conf high as standard job
        # conf — AQE then coalesces what the data doesn't need).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_GRAFT_INITIAL_PARTITIONS", str(cpus)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # split small single-file tables across cores: a 15 MB parquet is
        # one 128 MB-default split = a single-threaded scan feeding every
        # CPU-bound mapInArrow; parquet is splittable, so ask for at
        # least one split per core (no shuffle involved)
        .config("spark.sql.files.minPartitionNum", str(cpus))
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # openCostInBytes models file-open cost when packing small files
        # into splits; the 4 MB default (sized for object stores) charges
        # a ~200 KB invlist file 4.2 MB, so a 1024-list partitioned codes
        # table packs to 256 tasks of ~4 files — measured 2.1× slower to
        # scan than the 32-task packing a fast-local-disk-honest 256 KB
        # gives (0.66 vs 1.38 s full-table count). Affects only how MANY
        # small files share a task; large-file splitting is governed by
        # maxPartitionBytes/minPartitionNum as before.
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # runtime bloom filters ≈ faiss IDSelectorBatch's bloom front
        # (reference faiss/impl/IDSelector.h:80-98)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # bucketed tables must SCAN bucketed even when no join/aggregate
        # in the plan demands the distribution: the NSG bucketed save
        # serves searches through mapInArrow (an opaque map, no required
        # distribution), and with autoBucketedScan the planner silently
        # reverts to a regular file scan that SPLITS a >maxPartitionBytes
        # bucket file across tasks — measured: 4x49 MB buckets scanned as
        # 13 partitions with 3 shards split, which would hand the
        # partition-wise shard scan an incomplete graph. Our bucketed
        # tables (IVF codes, NSG shards) are bucket-count-sized to the
        # core count, so one-task-per-bucket is also the right
        # parallelism; the relational/join paths that DO declare the
        # distribution are unaffected.
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        # robustness: if a table ever ships TIMESTAMP(NANOS) (Spark has no
        # nanos type), read as long; load_tables converts. The current
        # driver tables store timestamp[us] (read as TIMESTAMP_NTZ), so
        # this is a no-op for them.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # one BLAS thread per Python worker: N workers × unpinned BLAS
        # pools (each defaulting to all cores) oversubscribe the host
        # N×-fold and thrash the GEMM hot path — the standard Spark+numpy
        # discipline is one BLAS thread per core-pinned worker, with
        # parallelism coming from Spark's partitioning
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.executorEnv.VECLIB_MAXIMUM_THREADS", "1")
        .config("spark.executorEnv.NUMEXPR_NUM_THREADS", "1")
        # keep large numpy temporaries on the heap instead of fresh mmaps:
        # glibc mmap()s allocations above the threshold and munmap()s them
        # on free, so every repeated O(nq·m) temp re-faults its pages —
        # pathological on lazily-backed VMs (first-touch can cost 10-100×
        # the arithmetic). With a high threshold the same pages recycle.
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "1073741824")
        # fork Python workers from faiss_spark.worker_daemon, which stops
        # every task from re-reading the central directories of pyspark.zip
        # and the py4j zip (pyspark invalidates import caches once per
        # task; CPython < 3.13 zipimport re-reads the archive on each call)
        # and then runs pyspark's own daemon: measured a median 225 ms off
        # every Python task, 0.37 -> 0.16 s for a trivial 4-task mapInArrow
        # on 4 vCPUs (SCALE.md, "Python worker start per task"). The daemon
        # must import from any cwd, hence the package root on the workers'
        # PYTHONPATH (local[N]: the driver's path is the workers' path).
        .config("spark.python.daemon.module", "faiss_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


# Timestamp columns in the driver tables. Currently stored as
# timestamp[us] (Spark: TIMESTAMP_NTZ) and need no conversion; the branch
# below only fires for legacy TIMESTAMP(NANOS) files read as long under
# nanosAsLong. NTZ columns pass through — queries that need epoch micros
# cast NTZ -> TIMESTAMP first (session tz is UTC, so the wall clock maps
# to the same micros DuckDB's epoch_us sees).
_NS_TS_COLUMNS = {
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
    "events": ["ts"],
}


#: per-(application, sf_dir) memo of the LAZY table DataFrames. This
#: caches plan/schema METADATA only — spark.read.parquet re-reads every
#: footer of all 10 tables and re-registers 10 temp views, ~0.6 s of
#: driver-side work that 11 query builders repeated on every call (twice
#: per knn_tabular). Every action still scans the parquet files; no
#: result or intermediate is ever cached (the no-precomputation rule),
#: exactly like Spark's own per-session file-listing cache (guide §6).
_TABLE_CACHE: dict = {}


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Load the driver-generated parquet tables and register temp views."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return dict(cached)

    dfs = {}
    for name in TABLES:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        for c in _NS_TS_COLUMNS.get(name, []):
            if isinstance(df.schema[c].dataType, LongType):
                # integer division: `/ 1000` goes through double and loses
                # precision above 2^53 nanos (~1970+104 days), which would
                # put arbitrary event timestamps ±1 µs off DuckDB's epoch_us
                df = df.withColumn(
                    c, F.timestamp_micros(F.expr(f"{c} div 1000"))
                )
        df.createOrReplaceTempView(name)
        dfs[name] = df
    _TABLE_CACHE[key] = dfs
    return dict(dfs)
