"""Tuned SparkSession factory — the engine's recommended scale posture.

These are the settings this engine is designed against; on a real cluster
only ``master``/memory change:

- AQE on (runtime re-plan, partition coalescing, skew-join splitting):
  every pair-generation operator here shuffles on data-dependent keys, so
  skew handling must be automatic.
- ``shuffle.partitions`` sized to cores (small SF) — on a 1000-executor
  cluster raise to ~2-3x total cores; AQE coalesces the excess.
- Arrow enabled for the pandas/arrow UDF boundary (all probe/hash kernels).
- ``files.maxPartitionBytes`` left at 128m: scan parallelism for 100 TB
  inputs comes from the file count; partitions stay executor-memory-sized.
- Python workers fork from ``bitfilters_spark._daemon`` (``WORKER_CONF``).
  Grouped builds and probes and the file-index build run as Python tasks,
  and stock workers paid ~0.23 s of CPU per task before reading a row.
  Two causes, both mended in the daemon: each task's
  ``importlib.invalidate_caches()`` re-read ``pyspark.zip``'s central
  directory once per cached zip importer (16 in a worker), and the
  ``gc.collect()`` a reused worker runs after each task walked the ~75k
  objects it inherited from the daemon's imports (~35 ms). The daemon
  re-reads an archive only when it changed and freezes its heap
  (``gc.freeze()``) before forking. ``tools/worker_task_cost.py``
  measures what is left per task.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the Python-worker settings every session of this package runs with
WORKER_CONF = {"spark.python.daemon.module": "bitfilters_spark._daemon"}


def make_session(
    app: str = "bitfilters-spark",
    master: str | None = None,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "8g",
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    b = (
        SparkSession.builder.appName(app)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r14 (guide §3.1/§9): let the planner pick shuffled-hash join
        # when its size conditions are met instead of always sort-merge
        # (skips both sort passes), and let AQE rewrite SMJ->SHJ when
        # every post-shuffle partition is under 64 MB. Scale-safe: the
        # AQE rewrite is gated on MEASURED per-partition bytes (build
        # memory stays bounded regardless of total size) and the static
        # preference keeps Spark's own canBuildLocalHashMap sizing.
        # Measured flat-or-better across the join-bearing bench rows
        # (q_dedup_exact -9%, q_contamination -10%, q_ann_topk -20%).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m"
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches (default 10k): the probe/hash kernels are
        # numpy over whole batches, so fewer JVM<->Python round trips is
        # pure win (measured -15..-35% on the UDF-heavy queries, no
        # regressions; ~3 MB per batch at typical row widths)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory)
        .config("spark.cleaner.periodicGC.interval", "15s")
        .config(map=WORKER_CONF)
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
