"""Bronze -> silver -> gold medallion pipeline (the reference's whole job
surface, re-expressed as pure transforms + a thin driver).

Reference parity map:
- ``bronze_to_silver`` = reference ``src/glue_jobs/bronze_to_silver.py:26-143``
  (validate/dedup/derive/write) with the §4.2 fixes: QC counts ride the write
  action via ``observe`` (no extra count() jobs), explicit schema, and
  cross-run idempotency via anti-join against already-ingested transaction
  ids in the target partitions.
- ``silver_to_gold`` = reference ``src/glue_jobs/silver_to_gold.py:14-149``
  (daily/monthly/customer gold tables) with one shared cached scan instead
  of three independent scans.
- ``run_pipeline`` = the Step Functions DAG (``pipeline_definition.json``):
  sequential stages, retry-with-backoff, failure notify — in-process.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from aws_data_pipeline_spark.catalog import TXN_SCHEMA
from aws_data_pipeline_spark.operators import aggregate as agg_ops
from aws_data_pipeline_spark.operators import cleanse, derive
from aws_data_pipeline_spark.sources.jsonl import read_jsonl
from aws_data_pipeline_spark.sources.parquet import (
    read_partition_slice,
    read_zone,
    write_zone,
    zone_exists,
)

REQUIRED_KEYS = ("transaction_id", "customer_id", "amount", "transaction_date")

PARTITION_KEYS = ("year", "month", "day")


def dedup_against_silver(batch: DataFrame, silver_path: str) -> DataFrame:
    """Cross-run idempotency anti-join, partition-pruned (SURVEY §4.2-6).

    Re-delivered input must not duplicate rows already committed to silver.
    A re-delivered row (identical content) lands in the same (year, month,
    day) partition as its first delivery — the partition keys derive from
    transaction_date — so the anti-join only needs ids from the partitions
    THIS batch touches: the batch's distinct key set is collected (tiny:
    one tuple per touched day) and the silver read is restricted to those
    directories via PartitionFilters. Work per run is O(batch + touched
    partitions), never O(history) — a full-zone ``select(id).distinct()``
    would re-scan and re-shuffle the entire silver history on every
    micro-batch at 100 TB.

    SCOPE: this guards against RE-DELIVERY (same record, same content),
    which is what at-least-once file triggers produce. A record arriving
    again with an AMENDED transaction_date lands in a different partition
    and is appended as a second row for that id — that is an update, not a
    re-delivery, and an append-only silver zone cannot express updates;
    corrections belong in a compaction/merge pass (or an ACID table
    format), not in the ingest dedup.

    The caller must have persisted/checkpointed ``batch`` if recomputing its
    lineage twice (once for the key collect, once downstream) is expensive.
    """
    touched = [
        tuple(r)
        for r in batch.select(*PARTITION_KEYS).distinct().collect()
        if None not in tuple(r)  # null keys are dropped by the write guard
    ]
    if not touched:
        return batch
    existing = (
        read_partition_slice(batch.sparkSession, silver_path, touched, PARTITION_KEYS)
        .select("transaction_id")
        .distinct()
    )
    return batch.join(existing, "transaction_id", "left_anti")


@dataclass
class PipelineConfig:
    bronze_path: str
    silver_path: str
    gold_path: str
    timestamp_format: str = "yyyy-MM-dd HH:mm:ss"
    max_attempts: int = 2  # reference retry: 1 retry per stage
    backoff_seconds: float = 1.0  # reference: 30s, scaled for tests
    backoff_rate: float = 2.0
    notifier: Callable[[str, str], None] = field(
        default=lambda status, msg: print(f"[pipeline:{status}] {msg}")
    )


def transform_bronze(df: DataFrame, clock: Column | None = None) -> DataFrame:
    """The pure bronze->silver transform (no I/O): normalize, validate,
    dedup, derive. Serves batch AND foreachBatch streaming unchanged."""
    out = cleanse.normalize_types(
        df,
        timestamp_cols={"transaction_date": "yyyy-MM-dd HH:mm:ss"},
        casts={"amount": "double", "customer_id": "string", "transaction_id": "string"},
    )
    out = cleanse.require_non_null(out, REQUIRED_KEYS)
    out = cleanse.require_positive(out, "amount")
    out = cleanse.dedup_deterministic(
        out, ["transaction_id"], [F.col("transaction_date"), F.col("customer_id")]
    )
    out = derive.add_audit_columns(out, clock=clock)
    out = derive.add_date_parts(out, "transaction_date")
    out = derive.add_amount_category(out, "amount")
    out = derive.add_type_derived(out, "amount")
    return out


def bronze_to_silver(
    spark: SparkSession,
    cfg: PipelineConfig,
    clock: Column | None = None,
    schema_policy: str = "pin",
) -> dict[str, int]:
    """Ingest bronze JSONL -> partitioned silver parquet; returns QC metrics.

    QC counts are collected with ``observe`` on the single write action —
    the reference triggers three extra full scans for its counts
    (``bronze_to_silver.py:30,47,118``; SURVEY.md §4.2-1).

    Idempotent across re-runs (SURVEY.md §4.2-6): incoming rows are
    anti-joined against transaction_ids already in silver, so re-delivered
    files don't duplicate (the reference's blind append does).

    ``schema_policy`` is the EVOLUTION policy for producer-added columns
    (the reference's schema-on-read means a producer can add fields any
    time, ``bronze_to_silver.py:108-114``; VERDICT r12 item 4):

    - ``"pin"`` (default): the pinned TXN_SCHEMA scan — unknown columns
      are DROPPED. Right for stable feeds; an unannounced producer
      change is invisible (run ``sources.jsonl.unknown_key_split`` at
      the edge when that must be loud instead).
    - ``"widen"``: opt-in widen-with-nulls — the batch is read with
      ``sources.jsonl.evolved_schema`` (pinned types for known fields +
      the batch's new top-level fields), new columns ride the transform
      untouched and APPEND to silver. Older silver files lack them, so
      evolved zones read with ``read_zone(..., merge_schema=True)``
      until a compaction settles the footers; gold builds select only
      declared columns and survive either way
      (tests/test_medallion.py::test_schema_evolution_widen).
    """
    if schema_policy == "widen":
        from aws_data_pipeline_spark.sources.jsonl import evolved_schema

        schema = evolved_schema(spark, cfg.bronze_path, TXN_SCHEMA)
        # Type-conflict guard: the new columns' types come from per-batch
        # inference, so batch N can infer bigint where batch N-1 already
        # wrote string — mergeSchema would only break at the next READ,
        # far from the write that caused it. Catch it at the ingest: any
        # evolved column already present in silver must keep its type.
        if len(schema) > len(TXN_SCHEMA) and zone_exists(
            spark, cfg.silver_path
        ):
            existing = {
                f.name: f.dataType
                for f in read_zone(
                    spark, cfg.silver_path, merge_schema=True
                ).schema.fields
            }
            for f in schema.fields[len(TXN_SCHEMA):]:
                have = existing.get(f.name)
                if have is not None and have != f.dataType:
                    raise ValueError(
                        f"schema evolution type conflict on {f.name!r}: "
                        f"this batch infers {f.dataType.simpleString()} "
                        f"but silver already holds {have.simpleString()} "
                        "— fix the producer or cast at the edge"
                    )
    elif schema_policy == "pin":
        schema = TXN_SCHEMA
    else:
        raise ValueError(
            f"unknown schema_policy {schema_policy!r} (pin | widen)"
        )
    bronze = read_jsonl(spark, cfg.bronze_path, schema)
    silver = transform_bronze(bronze, clock=clock)

    # explicit existence probe: only a genuinely missing zone (first run)
    # skips the anti-join; any other silver read error propagates rather
    # than silently disabling cross-run dedup (SURVEY §4.2-6)
    persisted = None
    if zone_exists(spark, cfg.silver_path):
        # persist: the transformed batch is consumed twice (touched-key
        # collect + the write) — without this the bronze scan re-runs.
        # The cached batch's dedup shuffle is coalesced by AQE
        # (session.DEFAULT_CONF canChangeCachedPlanOutputPartitioning), so
        # the append writes AQE-sized files (one per touched partition for
        # a small delivery), not one per static shuffle partition per
        # touched partition
        persisted = silver.persist()
        silver = dedup_against_silver(persisted, cfg.silver_path)

    obs = Observation("qc")
    observed = silver.observe(
        obs,
        F.count(F.lit(1)).alias("rows_written"),
        # observe() forbids DISTINCT aggregates; the HLL sketch is also the
        # right cardinality tool at 100 TB
        F.approx_count_distinct(F.col("customer_id")).alias("approx_customers"),
    )
    try:
        write_zone(
            observed,
            cfg.silver_path,
            partition_by=PARTITION_KEYS,
            mode="append",
        )
    finally:
        if persisted is not None:
            persisted.unpersist()
    return {k: int(v) for k, v in obs.get.items()}


def silver_to_gold(spark: SparkSession, cfg: PipelineConfig) -> dict[str, int]:
    """Silver -> three gold tables from ONE cached scan (the reference
    re-scans silver per table, ``silver_to_gold.py:126-128``)."""
    silver = read_zone(spark, cfg.silver_path)
    if silver.isEmpty():  # S10 — single primitive, not count()/rdd.isEmpty()
        return {"gold_tables": 0}
    silver = silver.cache()
    try:
        daily = agg_ops.aggregate_transactions(
            silver,
            ["year", "month", "day", "customer_id"],
            "amount",
            "transaction_id",
            level="daily",
        )
        monthly = agg_ops.aggregate_transactions(
            silver,
            ["year", "month", "customer_id"],
            "amount",
            "transaction_id",
            level="monthly",
        )
        insights = agg_ops.customer_lifetime(
            silver, "customer_id", "amount", "transaction_date"
        )
        insights = derive.add_tenure_and_segment(
            insights,
            "first_transaction_date",
            "last_transaction_date",
            "lifetime_value",
        )
        write_zone(
            daily,
            f"{cfg.gold_path}/daily_aggregations",
            partition_by=("year", "month"),
            mode="overwrite",
        )
        write_zone(
            monthly,
            f"{cfg.gold_path}/monthly_aggregations",
            partition_by=("year",),
            mode="overwrite",
        )
        write_zone(insights, f"{cfg.gold_path}/customer_insights", mode="overwrite")
    finally:
        silver.unpersist()
    return {"gold_tables": 3}


def _retry(fn: Callable[[], dict], cfg: PipelineConfig, stage: str) -> dict:
    """O2: retry-with-backoff per stage (reference
    ``pipeline_definition.json:15-22``: 1 retry, backoff rate 2.0). A
    final failure re-raises annotated with the STAGE name, so the O3
    failure notification says which stage died, not just what the
    exception was (the Step Functions Catch carries the state name for
    the same reason)."""
    delay = cfg.backoff_seconds
    for attempt in range(1, cfg.max_attempts + 1):
        try:
            return fn()
        except Exception as exc:
            if attempt == cfg.max_attempts:
                raise RuntimeError(
                    f"stage {stage!r} failed after {attempt} attempts: {exc}"
                ) from exc
            time.sleep(delay)
            delay *= cfg.backoff_rate
    raise AssertionError("unreachable")


def run_pipeline(
    spark: SparkSession, cfg: PipelineConfig, clock: Column | None = None
) -> dict[str, dict]:
    """O1-O3: the Step Functions DAG in-process — sequential stages with a
    sync barrier at the silver commit, retry per stage, notify on outcome."""
    results: dict[str, dict] = {}
    try:
        results["bronze_to_silver"] = _retry(
            lambda: bronze_to_silver(spark, cfg, clock=clock), cfg, "bronze_to_silver"
        )
        results["silver_to_gold"] = _retry(
            lambda: silver_to_gold(spark, cfg), cfg, "silver_to_gold"
        )
    except Exception as exc:  # O3: failure catch + notify
        cfg.notifier("failure", f"pipeline failed: {exc}")
        raise
    cfg.notifier("success", f"pipeline completed: {results}")
    return results
