"""SparkSession factory with scale-appropriate defaults.

Replaces the reference's GlueContext bootstrap (reference
``src/glue_jobs/bronze_to_silver.py:94-98``) with a plain SparkSession.
Every config below is a 100 TB-posture decision:

- AQE on: runtime shuffle-partition coalescing + skew-join splitting, so the
  same plans survive 1000x data growth without retuning.
- ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true``: AQE
  also coalesces the shuffles INSIDE a cached plan. Spark's default (false)
  keeps a ``persist()``ed frame at the full static shuffle-partition count,
  so every persist site writes and schedules as if the data were large.
  ``pipeline.medallion.bronze_to_silver`` persists every delivery after the
  first for the re-delivery anti-join, and an 850-row delivery wrote one
  silver file per shuffle partition per touched day: 96 files for 3 days
  (32 x 3) instead of 3. Measured with perfbench ``etl_deliveries`` on a
  4-core 2.1 GHz Xeon: files written per later delivery 196 -> 10, Spark
  tasks per delivery 171 -> 69, median wall per job 13.1 s -> 8.3 s over
  ten seeds.
- ``spark.sql.session.timeZone=UTC``: deterministic date-part extraction
  regardless of host TZ (and parity with the DuckDB oracle's naive timestamps).
- dynamic partition overwrite: gold re-runs replace only touched partitions
  instead of the reference's full-table overwrite
  (``silver_to_gold.py:141-149``).
- Arrow enabled: vectorized toPandas / pandas_udf transfer.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # let AQE coalesce inside persist()/cache()d plans too (module docstring)
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "snappy",
    # 64 MiB broadcast ceiling: dimension tables (region/nation/customer at
    # test SF; any dim < executor memory budget at prod SF) broadcast instead
    # of shuffling the fact side.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
}


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def cluster_profile(
    input_bytes: int,
    executors: int,
    cores_per_executor: int = 4,
    executor_memory_bytes: int = 16 * 2**30,
    shuffle_amplification: float = 1.0,
    target_partition_bytes: int = 128 * 2**20,
) -> dict[str, str]:
    """Derive the scale-sensitive Spark confs for a (data size, cluster
    shape) pair — the "would this hold at 1000×?" arithmetic as code.

    The local harness never needs this (local[32] over sf0.1 is fine with
    DEFAULT_CONF); a 1000-executor deployment over 100 TB does, because the
    three sizing knobs interact:

    - **Scan splits** (``spark.sql.files.maxPartitionBytes``): default to
      ``target_partition_bytes`` (128 MiB — the HDFS-block-sized sweet spot:
      big enough to amortize task overhead, small enough to rebalance), but
      SHRINK it when the input is too small to give every core a split —
      an idle core at the scan is wall-clock lost on every downstream
      stage (the round-7 narrow-scan widening, measured 2-3× on
      single-file inputs).
    - **Shuffle partitions**: enough that one reduce partition of
      ``input_bytes × shuffle_amplification`` meets the same target size,
      rounded UP to full waves (a multiple of total cores — a 1-task
      straggler wave costs a whole stage latency), never below one wave.
      AQE coalesces DOWN at runtime when the actual exchange is smaller
      (partial aggregation usually shrinks it 10-1000×), so erring high is
      cheap; erring low re-plans only after a spilled first attempt.
    - **Memory fit**: a task must hold its partition decompressed (~3×
      on-disk snappy) with headroom for the hash side of joins/aggs; cap
      partition size at 1/8 of the per-core memory share and re-derive the
      counts when the cap bites. This is the spill guard: at 16 GiB / 4
      cores, the cap is 512 MiB — far above the 128 MiB default (healthy),
      but a 2 GiB-partition request on the same shape would be rejected
      down to fit.

    Returns a conf dict (values stringified, ready for ``extra_conf``)
    plus derived integers under non-``spark.`` keys for callers/tests.
    """
    if (
        min(
            input_bytes,
            executors,
            cores_per_executor,
            executor_memory_bytes,
            target_partition_bytes,
        )
        <= 0
        or shuffle_amplification <= 0
    ):
        raise ValueError(
            "every cluster_profile sizing input must be > 0 (a zero or "
            "negative memory/amplification would silently derive nonsense "
            "confs, e.g. autoBroadcastJoinThreshold=0 disabling broadcasts)"
        )
    total_cores = executors * cores_per_executor
    per_core_mem = executor_memory_bytes // cores_per_executor
    mem_cap = max(per_core_mem // 8, 16 * 2**20)
    split_bytes = min(target_partition_bytes, mem_cap)
    # shrink splits until every core has one (floor 16 MiB: below that,
    # task-launch overhead dominates and fewer-but-busier cores win)
    if input_bytes // split_bytes < total_cores:
        split_bytes = max(input_bytes // total_cores, 16 * 2**20)
        split_bytes = min(split_bytes, mem_cap)
    shuffle_bytes = int(input_bytes * shuffle_amplification)
    needed = -(-shuffle_bytes // split_bytes)  # ceil: reduce partitions at target size
    waves = max(1, -(-needed // total_cores))  # ceil: full waves only
    shuffle_partitions = waves * total_cores
    # broadcast ceiling: a broadcast table is materialized per-executor on
    # the heap, alongside every running task's partition — keep it within
    # one core's memory share so dim-table broadcasts never evict the scan
    broadcast_bytes = min(64 * 2**20, per_core_mem // 4)
    return {
        "spark.sql.files.maxPartitionBytes": str(split_bytes),
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(split_bytes),
        "spark.sql.autoBroadcastJoinThreshold": str(broadcast_bytes),
        "derived.total_cores": str(total_cores),
        "derived.waves": str(waves),
    }


def get_spark(
    app_name: str = "aws-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for the test/bench
    harness; on a real cluster callers pass their own master / rely on
    spark-submit.
    """
    master = master or f"local[{cpu_count()}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
