"""End-to-end medallion pipeline tests: JSONL fixture (reference generator
schema, FIXTURES.md §A1 edge rows) -> bronze -> silver -> gold on local FS,
values asserted against DuckDB recomputation; idempotency on re-run."""

from __future__ import annotations

import json
import pathlib

import duckdb
import pytest
from pyspark.sql import functions as F

from aws_data_pipeline_spark.pipeline.medallion import (
    PipelineConfig,
    run_pipeline,
)

CLOCK = "2026-01-01 00:00:00"


def make_fixture(path):
    """Transactions JSONL incl. the SURVEY.md §5.2-2 edge rows."""
    rows = []
    for i in range(200):
        rows.append(
            {
                "transaction_id": f"txn_{i:08d}",
                "customer_id": f"cust_{i % 20:06d}",
                "amount": round(10 + (i * 37.77) % 4990, 2),
                "transaction_date": f"2024-03-{(i % 28) + 1:02d} 10:{i % 60:02d}:00",
                "transaction_type": ["purchase", "refund", "adjustment"][i % 3],
                "merchant_id": f"merchant_{i % 5:03d}",
                "payment_method": "credit_card",
                "currency": "USD",
                "status": "completed",
                "category": "books",
            }
        )
    # edge rows: duplicate id, null keys, non-positive amounts, bad timestamp,
    # exact bucket boundaries (100/1000 -> medium/large), integral amount
    dup = dict(rows[0])
    dup["amount"] = 999.99
    rows.append(dup)
    rows.append({**rows[1], "transaction_id": None})
    rows.append({**rows[2], "transaction_id": "txn_null_amount", "amount": None})
    rows.append({**rows[3], "transaction_id": "txn_zero", "amount": 0})
    rows.append({**rows[4], "transaction_id": "txn_neg", "amount": -5.0})
    rows.append({**rows[5], "transaction_id": "txn_badts", "transaction_date": "not-a-date"})
    rows.append({**rows[6], "transaction_id": "txn_b100", "amount": 100.0})
    rows.append({**rows[7], "transaction_id": "txn_b1000", "amount": 1000.0})
    rows.append({**rows[8], "transaction_id": "txn_int", "amount": 250.0})
    (path / "batch_1.json").write_text(
        "\n".join(json.dumps(r) for r in rows[:100])
    )
    (path / "batch_2.json").write_text(
        "\n".join(json.dumps(r) for r in rows[100:])
    )
    return rows


@pytest.fixture()
def cfg(tmp_path):
    bronze = tmp_path / "bronze"
    bronze.mkdir()
    make_fixture(bronze)
    return PipelineConfig(
        bronze_path=str(bronze),
        silver_path=str(tmp_path / "silver"),
        gold_path=str(tmp_path / "gold"),
        backoff_seconds=0.01,
    )


def test_pipeline_end_to_end(spark, cfg):
    notifications = []
    cfg.notifier = lambda status, msg: notifications.append(status)
    res = run_pipeline(spark, cfg, clock=F.lit(CLOCK).cast("timestamp"))

    # 200 valid rows + boundary/integral edge rows - dropped bad rows;
    # duplicate txn id deduped deterministically
    assert res["bronze_to_silver"]["rows_written"] == 203
    assert res["silver_to_gold"]["gold_tables"] == 3
    assert notifications == ["success"]

    silver = spark.read.parquet(cfg.silver_path)
    assert silver.count() == 203
    # partition layout exists (hive-style year/month/day)
    assert (
        silver.filter(
            (F.col("year") == 2024) & (F.col("month") == 3) & (F.col("day") == 1)
        ).count()
        > 0
    )
    # boundary semantics: strict < boundaries -> 100 is medium, 1000 is large
    cats = {
        r.transaction_id: r.amount_category
        for r in silver.filter(
            F.col("transaction_id").isin("txn_b100", "txn_b1000", "txn_int")
        ).collect()
    }
    assert cats["txn_b100"] == "medium"
    assert cats["txn_b1000"] == "large"
    types = {
        r.transaction_id: r.transaction_type_derived
        for r in silver.filter(F.col("transaction_id").isin("txn_int", "txn_b100")).collect()
    }
    assert types["txn_int"] == "whole_number"

    # dropped rows: null id, null amount, zero, negative, bad timestamp
    ids = {r.transaction_id for r in silver.select("transaction_id").collect()}
    assert {"txn_null_amount", "txn_zero", "txn_neg", "txn_badts"}.isdisjoint(ids)

    # gold vs duckdb recomputation over the actual silver parquet
    con = duckdb.connect()
    expected = con.execute(
        f"""
        SELECT customer_id, COUNT(*) AS n,
               CAST(SUM(CAST(amount AS DECIMAL(30,2))) AS DOUBLE) AS lv
        FROM read_parquet('{cfg.silver_path}/**/*.parquet', hive_partitioning=1)
        GROUP BY customer_id
        """
    ).df()
    insights = (
        spark.read.parquet(f"{cfg.gold_path}/customer_insights")
        .select("customer_id", "lifetime_transactions", "lifetime_value")
        .toPandas()
    )
    merged = expected.merge(insights, on="customer_id")
    assert len(merged) == len(expected) == 20
    assert (merged["n"] == merged["lifetime_transactions"]).all()
    assert (merged["lv"] == merged["lifetime_value"]).all()


def test_pipeline_idempotent_rerun(spark, cfg):
    clock = F.lit(CLOCK).cast("timestamp")
    run_pipeline(spark, cfg, clock=clock)
    first = spark.read.parquet(cfg.silver_path).count()
    res2 = run_pipeline(spark, cfg, clock=clock)  # same input re-delivered
    assert res2["bronze_to_silver"]["rows_written"] == 0
    assert spark.read.parquet(cfg.silver_path).count() == first


def _delivery(path, ids, days):
    """One bronze delivery: transaction ``ids`` spread round-robin over
    ``days`` of March 2024 (a re-delivered id keeps its original day, so
    it lands in the partition it was first written to)."""
    path.mkdir()
    path.joinpath("part.json").write_text(
        "\n".join(
            json.dumps(
                {
                    "transaction_id": f"txn_{i:08d}",
                    "customer_id": f"cust_{i % 40:06d}",
                    "amount": round(10 + (i * 37.77) % 4990, 2),
                    "transaction_date": f"2024-03-{days[i % len(days)]:02d} "
                    f"10:{i % 60:02d}:00",
                    "transaction_type": "purchase",
                    "merchant_id": f"merchant_{i % 5:03d}",
                    "payment_method": "credit_card",
                    "currency": "USD",
                    "status": "completed",
                    "category": "books",
                }
            )
            for i in ids
        )
    )
    return str(path)


def _files_per_partition(silver_path) -> dict[tuple[int, int, int], set]:
    """{(year, month, day): {parquet file names}} of a silver zone."""
    out: dict[tuple[int, int, int], set] = {}
    for f in pathlib.Path(silver_path).glob("year=*/month=*/day=*/*.parquet"):
        key = tuple(int(p.split("=")[1]) for p in f.parts[-4:-1])
        out.setdefault(key, set()).add(f.name)
    return out


def _new_files(before, after) -> dict[tuple[int, int, int], int]:
    return {
        k: len(v - before.get(k, set()))
        for k, v in after.items()
        if v - before.get(k, set())
    }


@pytest.mark.parametrize("ingest", ["bronze_to_silver", "ingest_sink"])
def test_second_delivery_writes_one_file_per_touched_partition(
    spark, tmp_path, ingest
):
    """A delivery into a NON-EMPTY silver zone persists the transformed
    batch for the re-delivery anti-join — in the batch ingest and in the
    streaming foreachBatch sink (``anti_join`` mode, driven directly with
    the micro-batches a stream would hand over). AQE must coalesce that
    cached batch like any other plan: the append writes one parquet file
    per touched (year, month, day) partition, not one per static shuffle
    partition (the session's 8 here, 32 by default) per touched partition."""
    from aws_data_pipeline_spark.catalog import TXN_SCHEMA
    from aws_data_pipeline_spark.pipeline.medallion import bronze_to_silver
    from aws_data_pipeline_spark.streaming.ingest import ingest_sink

    clock = F.lit(CLOCK).cast("timestamp")
    days = (1, 2, 3)
    silver = str(tmp_path / "silver")

    def deliver(batch_id, ids):
        bronze = _delivery(tmp_path / f"d{batch_id}", ids, days)
        if ingest == "ingest_sink":
            batch = spark.read.schema(TXN_SCHEMA).json(bronze)
            ingest_sink(batch, batch_id, silver, clock, "anti_join")
            return
        cfg = PipelineConfig(
            bronze_path=bronze,
            silver_path=silver,
            gold_path=str(tmp_path / "gold"),
            backoff_seconds=0.01,
        )
        return bronze_to_silver(spark, cfg, clock=clock)["rows_written"]

    written = [deliver(0, range(300))]
    before = _files_per_partition(silver)

    # 300 new ids plus 60 re-delivered ones, over the same three days
    second = list(range(300, 600)) + list(range(0, 300, 5))
    written.append(deliver(1, second))
    after = _files_per_partition(silver)
    assert _new_files(before, after) == {(2024, 3, d): 1 for d in days}
    assert spark.read.parquet(silver).count() == 600

    # re-delivering the second batch is a no-op: no rows, no files
    written.append(deliver(2, second))
    assert _files_per_partition(silver) == after
    assert spark.read.parquet(silver).count() == 600
    if ingest == "bronze_to_silver":  # the QC observation agrees
        assert written == [300, 300, 0]


def test_retry_and_failure_notification(spark, tmp_path):
    cfg = PipelineConfig(
        bronze_path=str(tmp_path / "missing"),
        silver_path=str(tmp_path / "silver"),
        gold_path=str(tmp_path / "gold"),
        backoff_seconds=0.01,
    )
    notes = []
    cfg.notifier = lambda status, msg: notes.append(status)
    with pytest.raises(Exception):
        run_pipeline(spark, cfg)
    assert notes == ["failure"]


def test_cross_run_dedup_is_partition_pruned(spark, tmp_path):
    """VERDICT r3 item 1: the idempotency anti-join must read only the
    partitions the incoming batch touches (PartitionFilters in the plan),
    never the full silver history."""
    from aws_data_pipeline_spark.pipeline.medallion import dedup_against_silver
    from aws_data_pipeline_spark.sources.parquet import read_partition_slice

    silver_path = str(tmp_path / "silver")
    seed = spark.createDataFrame(
        [("txn_a", 2024, 3, 1), ("txn_b", 2024, 3, 2)],
        "transaction_id string, year int, month int, day int",
    )
    seed.write.partitionBy("year", "month", "day").parquet(silver_path)

    batch = spark.createDataFrame(
        [("txn_a", 2024, 3, 1), ("txn_new", 2024, 3, 1)],
        "transaction_id string, year int, month int, day int",
    )
    out = dedup_against_silver(batch, silver_path)
    assert {r.transaction_id for r in out.collect()} == {"txn_new"}

    # the existing-silver read resolves the key disjunction to
    # PartitionFilters — directory pruning, not a full scan + filter
    plan = (
        read_partition_slice(spark, silver_path, [(2024, 3, 1)])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:400]
    assert "year" in seg and "month" in seg and "day" in seg


def test_schema_evolution_widen(spark, tmp_path):
    """VERDICT r12 item 4: batch N+1 carries a producer-added column.
    Under the default pin policy it is (documented) dropped; under
    schema_policy='widen' it lands in silver, older rows surface it as
    null through the mergeSchema read contract, and the incremental gold
    build survives the widened zone."""
    from aws_data_pipeline_spark.pipeline.medallion import (
        bronze_to_silver,
        silver_to_gold,
    )
    from aws_data_pipeline_spark.sources.parquet import read_zone

    base = {
        "customer_id": "cust_000001",
        "amount": 50.0,
        "transaction_date": "2024-03-01 10:00:00",
        "transaction_type": "purchase",
        "merchant_id": "m1",
        "payment_method": "credit_card",
        "currency": "USD",
        "status": "completed",
        "category": "books",
    }
    b1 = tmp_path / "b1"
    b1.mkdir()
    b1.joinpath("batch_1.json").write_text(
        "\n".join(
            json.dumps({**base, "transaction_id": f"txn_{i:08d}"})
            for i in range(5)
        )
    )
    cfg1 = PipelineConfig(
        bronze_path=str(b1),
        silver_path=str(tmp_path / "silver"),
        gold_path=str(tmp_path / "gold"),
        backoff_seconds=0.01,
    )
    clock = F.lit(CLOCK).cast("timestamp")
    bronze_to_silver(spark, cfg1, clock=clock)

    # batch 2: the producer added loyalty_tier
    b2 = tmp_path / "b2"
    b2.mkdir()
    b2.joinpath("batch_2.json").write_text(
        "\n".join(
            json.dumps(
                {
                    **base,
                    "transaction_id": f"txn_1{i:07d}",
                    "loyalty_tier": "gold",
                }
            )
            for i in range(3)
        )
    )
    cfg2 = PipelineConfig(
        bronze_path=str(b2),
        silver_path=cfg1.silver_path,
        gold_path=cfg1.gold_path,
        backoff_seconds=0.01,
    )
    bronze_to_silver(spark, cfg2, clock=clock, schema_policy="widen")

    # the widened zone's read contract: mergeSchema surfaces the new
    # column, null for the pre-evolution rows
    silver = read_zone(spark, cfg1.silver_path, merge_schema=True)
    assert "loyalty_tier" in silver.columns
    tiers = {
        (r.transaction_id, r.loyalty_tier)
        for r in silver.select("transaction_id", "loyalty_tier").collect()
    }
    assert sum(1 for _, t in tiers if t == "gold") == 3
    assert sum(1 for _, t in tiers if t is None) == 5

    # the incremental gold build survives the widened silver
    metrics = silver_to_gold(spark, cfg2)
    assert metrics["gold_tables"] == 3
    daily = read_zone(spark, f"{cfg2.gold_path}/daily_aggregations")
    assert daily.agg(F.sum("transaction_count")).collect()[0][0] == 8

    # and the unknown-key edge verbs see exactly the evolution
    from aws_data_pipeline_spark.catalog import TXN_SCHEMA
    from aws_data_pipeline_spark.sources.jsonl import (
        evolved_schema,
        unknown_key_split,
    )

    good, unknown = unknown_key_split(spark, str(b2), TXN_SCHEMA)
    assert good.count() == 0 and unknown.count() == 3  # all rows evolved
    ev = evolved_schema(spark, str(b2), TXN_SCHEMA)
    assert ev.fieldNames()[-1] == "loyalty_tier"
    assert ev.fieldNames()[: len(TXN_SCHEMA)] == list(TXN_SCHEMA.fieldNames())
    g2, u2 = unknown_key_split(spark, str(b1), TXN_SCHEMA)
    assert g2.count() == 5 and u2.count() == 0


def test_schema_evolution_widen_type_conflict_fails_at_ingest(
    spark, tmp_path
):
    """A producer that re-types an evolved column between batches must be
    stopped AT THE INGEST (clear error naming the column and both types),
    not discovered later when a mergeSchema read fails to reconcile
    footers."""
    import pytest

    from aws_data_pipeline_spark.pipeline.medallion import bronze_to_silver

    base = {
        "customer_id": "cust_000001",
        "amount": 50.0,
        "transaction_date": "2024-03-01 10:00:00",
        "transaction_type": "purchase",
        "merchant_id": "m1",
        "payment_method": "credit_card",
        "currency": "USD",
        "status": "completed",
        "category": "books",
    }

    def batch(d, rows):
        d.mkdir()
        d.joinpath("b.json").write_text("\n".join(json.dumps(r) for r in rows))
        return PipelineConfig(
            bronze_path=str(d),
            silver_path=str(tmp_path / "silver"),
            gold_path=str(tmp_path / "gold"),
            backoff_seconds=0.01,
        )

    clock = F.lit(CLOCK).cast("timestamp")
    c1 = batch(
        tmp_path / "b1",
        [{**base, "transaction_id": "txn_1", "loyalty_tier": "gold"}],
    )
    bronze_to_silver(spark, c1, clock=clock, schema_policy="widen")

    c2 = batch(
        tmp_path / "b2",
        [{**base, "transaction_id": "txn_2", "loyalty_tier": 3}],
    )
    with pytest.raises(ValueError, match="loyalty_tier"):
        bronze_to_silver(spark, c2, clock=clock, schema_policy="widen")
