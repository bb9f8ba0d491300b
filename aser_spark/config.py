"""SparkSession factory with scale-oriented defaults.

Defaults assume the sandbox (local[N], 32 threads); every knob is the same
one you would set on a 1000-executor cluster — AQE for runtime re-planning
and skew-join splitting, Arrow for the pandas-UDF extraction kernels,
moderate shuffle partitions sized to cores at test scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app="aser-spark", cpus: int | None = None, shuffle_partitions: int | None = None,
              extra: dict | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # floor scan parallelism at the core count: a single 20-200MB
        # parquet file otherwise scans as 1-2 tasks and serializes the
        # whole query behind it.  A *minimum* stays scale-adaptive — big
        # inputs still split by maxPartitionBytes exactly as before
        # (guide §6: files.minPartitionNum is the documented floor knob).
        .config("spark.sql.files.minPartitionNum", str(cpus))
        # allow shuffled-hash joins where a partition's build side fits —
        # sort-merge's per-partition sorts are pure overhead for hash-able
        # joins (guide §3.1/§9); AQE additionally rewrites SMJ->SHJ at
        # runtime below the local-map threshold
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
                "64m")
        # local-mode driver == the single executor: size it like a real
        # executor (measured: a 16g heap GC-thrashes once the KG pipeline
        # caches instances + aggregates and a second extraction pass runs —
        # 117s vs 30s for the identical stage at 48g)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        # spark.python.worker.reuse stays at its default (true): long-lived
        # workers keep the Zipf sentence memos warm across tasks, and the
        # cross-mode heap poison that reuse used to carry (4-8x slower
        # kernel tasks after a prior mode's memos went resident) is fixed
        # at the source — a mode switch in _sentence_cache resets every
        # worker memo and trims the heap (kernel/memo.py; forensics in
        # BENCH/NOTES.md §r6).  reuse=false was tried and reverted: per-
        # stage mass worker exits (32 procs x 100-400MB heaps) feed the
        # sandbox kernel's reclaim backlog, the very storm being avoided.
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
