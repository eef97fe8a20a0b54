"""The three workloads. Each drives the engine only through its public
functions, one closed-loop client, one operation at a time.

A workload runs *jobs*: a job is a fixed amount of work over fresh inputs
(new zones, new seeded data, no persisted indexes). Each run starts with an
untimed warm-up job over inputs of its own (job -1), then runs a fixed
number of timed jobs (0, 1, ...). Correctness checks run between operations,
outside the timed region; a failed check marks the operation it covers as
failed.
"""

from __future__ import annotations

import hashlib
import random
import shutil
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

import duckdb
import pandas as pd

import gen


@dataclass
class Op:
    op_id: int
    kind: str
    job: int
    start: float  # epoch seconds
    latency: float
    cpu_s: float = 0.0  # CPU seconds of the process tree during the operation
    ok: bool = True
    error: str = ""


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    cache: Path
    work: Path
    warehouse: Path
    run_op: Callable[..., tuple[Op, object]]  # (kind, fn) -> (op, fn's result)
    job: int = -1  # the job running now; -1 is the warm-up job
    layer: dict = field(default_factory=dict)  # per-layer samples, name -> list
    info: dict = field(default_factory=dict)  # measured workload properties

    @property
    def inputs(self) -> int:
        """Generator job index of the running job's inputs."""
        return gen.WARM_UP if self.job < 0 else self.job

    def sample(self, name: str, value: float) -> None:
        if self.job >= 0:
            self.layer.setdefault(name, []).append(float(value))


def tree_bytes(*paths: Path) -> tuple[int, int]:
    """(files, bytes) of the regular files under ``paths``."""
    files = [f for p in paths if p.exists() for f in p.rglob("*") if f.is_file()]
    return len(files), sum(f.stat().st_size for f in files)


def warehouse_dirs(warehouse: Path, sf_dir: Path) -> list[Path]:
    """Index directories the query plans persist for ``sf_dir``
    (``<warehouse>/<name>_<basename>_<md5(sf_dir)[:8]>``)."""
    tag = hashlib.md5(str(sf_dir).encode()).hexdigest()[:8]
    suffix = f"_{sf_dir.name}_{tag}"
    if not warehouse.exists():
        return []
    return [p for p in warehouse.iterdir() if p.name.endswith(suffix)]


def reset_state(ctx: Ctx, *sf_dirs: Path) -> None:
    """Start from a fixed state: no persisted indexes for these inputs."""
    for sf in sf_dirs:
        for p in warehouse_dirs(ctx.warehouse, sf):
            shutil.rmtree(p, ignore_errors=True)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# etl_deliveries


def etl_deliveries(ctx: Ctx) -> None:
    """One job: the generated deliveries, in order, into fresh zones."""
    from aws_data_pipeline_spark.catalog import TXN_SCHEMA
    from aws_data_pipeline_spark.pipeline.medallion import (
        PipelineConfig,
        bronze_to_silver,
        silver_to_gold,
    )
    from aws_data_pipeline_spark.sources.jsonl import read_jsonl

    m = gen.etl_deliveries(ctx.cache, ctx.seed, ctx.inputs)
    src = ctx.cache / f"etl-{ctx.seed}-{ctx.inputs}-{gen.VERSION}"
    zone = ctx.work / f"etl-{ctx.inputs}"
    shutil.rmtree(zone, ignore_errors=True)
    cfg = PipelineConfig(
        bronze_path="",
        silver_path=str(zone / "silver"),
        gold_path=str(zone / "gold"),
        notifier=lambda status, msg: None,
    )
    redelivered = dropped = 0
    for k, d in enumerate(m["deliveries"]):
        cfg.bronze_path = str(src / d["path"])
        silver_before = tree_bytes(zone / "silver")

        def deliver():
            with ctx.tracer.span("pipeline.bronze_to_silver"):
                qc = bronze_to_silver(ctx.spark, cfg)
            with ctx.tracer.span("pipeline.silver_to_gold"):
                silver_to_gold(ctx.spark, cfg)
            return qc

        op, qc = ctx.run_op("delivery", deliver)
        if not op.ok:
            continue
        files, nbytes = tree_bytes(zone / "silver")
        gfiles = [f for f in (zone / "gold").rglob("*.parquet")]
        sfiles = sorted((zone / "silver").rglob("*.parquet"))
        ctx.sample("sources.files_written", files - silver_before[0] + len(gfiles))
        ctx.sample(
            "sources.bytes_written",
            nbytes - silver_before[1] + sum(f.stat().st_size for f in gfiles),
        )
        ctx.sample(
            "sources.small_files",
            sum(f.stat().st_size < 128 * 1024 for f in sfiles + gfiles),
        )
        ctx.sample("pipeline.rows_written", qc["rows_written"])
        problem, batch_valid = check_etl(src, m["deliveries"][: k + 1], zone)
        if problem:
            op.ok, op.error = False, problem
        redelivered += d["redelivered"]
        dropped += batch_valid - qc["rows_written"]
        if ctx.tracer.enabled and ctx.job >= 0:
            with ctx.tracer.span("sources.json_scan"):
                noop_write(read_jsonl(ctx.spark, cfg.bronze_path, TXN_SCHEMA))
    if redelivered:
        ctx.sample("pipeline.redelivery_drop_ratio", dropped / redelivered)
    if ctx.job == 0:
        ctx.info.update(
            records=m["records"],
            input_bytes=m["input_bytes"],
            input_files=m["input_files"],
            stored_bytes=tree_bytes(zone / "silver", zone / "gold")[1],
            redelivery_share=m["redelivery_share"],
            edge_share=m["edge_share"],
        )
    shutil.rmtree(zone, ignore_errors=True)


def check_etl(src: Path, deliveries: list[dict], zone: Path) -> tuple[str, int]:
    """Silver and the three gold tables against a DuckDB recomputation from
    the generated records. Returns (problem or "", valid distinct ids in the
    newest delivery)."""
    files = [str(src / d["path"] / "*.json") for d in deliveries]
    con = duckdb.connect()
    try:
        con.execute(
            f"""
            CREATE TEMP TABLE raw AS
            SELECT *, CAST(regexp_extract(filename, 'delivery_(\\d+)', 1) AS INT) AS delivery
            FROM read_json({files!r}, format='newline_delimited', filename=true,
                 columns={{transaction_id: 'VARCHAR', customer_id: 'VARCHAR',
                          amount: 'DOUBLE', transaction_date: 'VARCHAR'}})
            """
        )
        con.execute(
            """
            CREATE TEMP TABLE valid AS
            SELECT transaction_id, customer_id, amount, delivery,
                   try_strptime(transaction_date, '%Y-%m-%d %H:%M:%S') AS ts
            FROM raw
            WHERE transaction_id IS NOT NULL AND customer_id IS NOT NULL
              AND amount IS NOT NULL AND amount > 0
              AND try_strptime(transaction_date, '%Y-%m-%d %H:%M:%S') IS NOT NULL
            """
        )
        con.execute(
            """
            CREATE TEMP TABLE s AS
            SELECT * FROM valid
            QUALIFY row_number() OVER (
                PARTITION BY transaction_id ORDER BY delivery, ts, customer_id) = 1
            """
        )
        newest = len(deliveries) - 1
        batch_valid = con.execute(
            f"SELECT count(DISTINCT transaction_id) FROM valid WHERE delivery = {newest}"
        ).fetchone()[0]
        silver = f"read_parquet('{zone}/silver/**/*.parquet', hive_partitioning=1)"
        want = con.execute("SELECT count(*) FROM s").fetchone()[0]
        got, distinct = con.execute(
            f"SELECT count(*), count(DISTINCT transaction_id) FROM {silver}"
        ).fetchone()
        if got != want or distinct != got:
            return f"silver rows {got} (distinct {distinct}) != valid ids {want}", batch_valid
        money = "CAST(SUM(CAST(amount AS DECIMAL(30,2))) AS DOUBLE)"
        grains = {
            "daily_aggregations": "year(ts), month(ts), day(ts), customer_id",
            "monthly_aggregations": "year(ts), month(ts), customer_id",
        }
        for table, keys in grains.items():
            cols = ", ".join(k.split("(")[0] if "(" in k else k for k in keys.split(", "))
            expected = f"""
                SELECT {keys}, count(*), {money}, {money} / count(amount),
                       min(amount), max(amount), count(DISTINCT transaction_id)
                FROM s GROUP BY ALL"""
            actual = f"""
                SELECT {cols}, transaction_count, total_amount, avg_amount,
                       min_amount, max_amount, unique_transactions
                FROM read_parquet('{zone}/gold/{table}/**/*.parquet', hive_partitioning=1)"""
            if bad := _sym_diff(con, expected, actual):
                return f"gold {table}: {bad} rows differ", batch_valid
        expected = f"""
            SELECT customer_id, count(*), {money}, {money} / count(amount),
                   min(ts), max(ts), count(DISTINCT CAST(ts AS DATE)),
                   datediff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)),
                   CASE WHEN {money} > 10000 THEN 'high_value'
                        WHEN {money} > 5000 THEN 'medium_value'
                        ELSE 'low_value' END
            FROM s GROUP BY customer_id"""
        actual = f"""
            SELECT customer_id, lifetime_transactions, lifetime_value,
                   avg_transaction_amount, first_transaction_date,
                   last_transaction_date, active_days, customer_tenure_days,
                   customer_segment
            FROM read_parquet('{zone}/gold/customer_insights/*.parquet')"""
        if bad := _sym_diff(con, expected, actual):
            return f"gold customer_insights: {bad} rows differ", batch_valid
        return "", batch_valid
    finally:
        con.close()


def _sym_diff(con, a: str, b: str) -> int:
    return con.execute(
        f"SELECT (SELECT count(*) FROM ({a} EXCEPT ALL {b})) "
        f"+ (SELECT count(*) FROM ({b} EXCEPT ALL {a}))"
    ).fetchone()[0]


# ---------------------------------------------------------------------------
# query_mix

# Registry queries with DuckDB oracles, hottest first (Zipf rank order):
# TPC-H family, reference gold queries, joins / windows / JSON analytics.
QUERY_MIX = [
    "q6_forecast_revenue",
    "customer_insights",
    "regional_revenue",
    "q1_pricing_summary",
    "json_props_stats",
    "q3_shipping_priority",
    "sessionize_events",
    "multi_grain_rollup_hierarchical",
    "q18_large_volume_customers",
    "topk_orders_per_customer",
    "q5_local_supplier_volume",
    "rfm_customer_segments",
]
ZIPF_S = 1.1


def query_mix(ctx: Ctx) -> None:
    """One job: every query of the mix once, each first execution followed
    by a Zipf-drawn repeat of a query already seen, over fresh tables."""
    from aws_data_pipeline_spark.plans import DEMOTED, load_registry

    registry = {**load_registry(), **DEMOTED}
    m = gen.query_tables(ctx.cache, ctx.seed, ctx.inputs)
    sf = ctx.cache / f"qm-{ctx.seed}-{ctx.inputs}-{gen.VERSION}"
    reset_state(ctx, sf)
    rng = random.Random(f"qm-sequence:{ctx.seed}:{ctx.inputs}")
    pending = list(QUERY_MIX)
    rng.shuffle(pending)
    weight = {q: 1.0 / (rank + 1) ** ZIPF_S for rank, q in enumerate(QUERY_MIX)}
    seen: list[str] = []
    for n in range(2 * len(QUERY_MIX)):
        if pending and (n % 2 == 0 or not seen):
            name = pending.pop(0)
            seen.append(name)
        else:
            name = rng.choices(seen, weights=[weight[q] for q in seen])[0]
        fn = registry[name].spark_fn

        def execute():
            with ctx.tracer.span("plans.spark_fn"):
                df = fn(ctx.spark, str(sf))
            with ctx.tracer.span("exec.action"):
                noop_write(df)

        ctx.run_op(name, execute)
    if ctx.job == 0:
        ctx.info.update(
            records=m["rows"] * 2 * len(QUERY_MIX),
            input_bytes=m["input_bytes"],
            input_files=m["input_files"],
            stored_bytes=m["input_bytes"] + tree_bytes(*warehouse_dirs(ctx.warehouse, sf))[1],
            distinct_queries=len(seen),
            repeat_share=1 - len(seen) / (2 * len(QUERY_MIX)),
        )
    failures = check_queries(ctx, registry, seen, sf)
    ctx.info.setdefault("oracle_failures", {}).update(failures)
    reset_state(ctx, sf)


def check_queries(ctx: Ctx, registry: dict, names: list[str], sf: Path) -> dict:
    """Each distinct query once, outside the timed loop: the Spark output's
    normalized hash against its DuckDB oracle's."""
    from aws_data_pipeline_spark.catalog import TABLES

    con = duckdb.connect()
    failures = {}
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        for name in names:
            spark_df = registry[name].spark_fn(ctx.spark, str(sf)).toPandas()
            oracle_df = con.execute(registry[name].sql).df()
            if _frame_hash(spark_df) != _frame_hash(oracle_df):
                failures[name] = "output hash differs from the DuckDB oracle"
    finally:
        con.close()
    return failures


def _frame_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]) or pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    h = pd.util.hash_pandas_object(df.astype(str), index=False)
    return hashlib.sha256(h.to_numpy().tobytes() + str(list(df.columns)).encode()).hexdigest()


# ---------------------------------------------------------------------------
# corpus_curation

# Run three times each over the job's generated corpus: a first execution
# (index builds included) and two repeats. The warm-up job skips them: the
# ingests' streaming start-up is most of what a cold JVM adds to a job
# (corpus ingest 15 s cold, 4.6 s warm, on 4 cores), while these queries'
# first executions run about 1.2x slower cold than warm.
LLM_QUERIES = [
    "neardup_clusters",
    "bm25_scores",
    "embedding_ann_sq8_indexed",
]


def corpus_curation(ctx: Ctx) -> None:
    """One job: the generated batches through both incremental ingests into
    fresh zones, then LLM_QUERIES three times each over the job's corpus."""
    from aws_data_pipeline_spark.plans import DEMOTED, load_registry
    from aws_data_pipeline_spark.streaming.corpus import incremental_corpus_ingest
    from aws_data_pipeline_spark.streaming.embeddings import (
        incremental_embedding_ingest,
    )

    registry = {**load_registry(), **DEMOTED}
    m = gen.corpus_batches(ctx.cache, ctx.seed, ctx.inputs)
    src = ctx.cache / f"corpus-{ctx.seed}-{ctx.inputs}-{gen.VERSION}"
    zone = ctx.work / f"corpus-{ctx.inputs}"
    shutil.rmtree(zone, ignore_errors=True)
    reset_state(ctx, src / "sf")
    for sub in ("inbox_docs", "inbox_vecs"):
        (zone / sub).mkdir(parents=True)
    p = {k: str(zone / k) for k in ("corpus", "index", "vcorpus", "vindex", "ck_docs", "ck_vecs")}
    ingest_ops: list[Op] = []
    for b in m["batches"]:
        shutil.copyfile(src / "docs" / f"{b}.json", zone / "inbox_docs" / f"{b}.json")
        shutil.copyfile(src / "vecs" / f"{b}.parquet", zone / "inbox_vecs" / f"{b}.parquet")

        def ingest_docs():
            with ctx.tracer.span("streaming.corpus_ingest"):
                incremental_corpus_ingest(
                    ctx.spark, str(zone / "inbox_docs"), p["corpus"], p["index"], p["ck_docs"]
                )

        def ingest_vecs():
            with ctx.tracer.span("streaming.embedding_ingest"):
                incremental_embedding_ingest(
                    ctx.spark, str(zone / "inbox_vecs"), p["vcorpus"], p["vindex"], p["ck_vecs"]
                )

        ingest_ops.append(ctx.run_op("corpus_ingest", ingest_docs)[0])
        ingest_ops.append(ctx.run_op("embedding_ingest", ingest_vecs)[0])
    problem, novel, recall = check_corpus(zone, m)
    if problem:
        for op in ingest_ops:
            op.ok, op.error = False, problem
    ctx.sample("streaming.novel_ratio", novel)
    ctx.sample("streaming.dup_recall", recall)
    ctx.sample(
        "streaming.micro_batches",
        sum(len(list((zone / ck / "commits").glob("[0-9]*"))) for ck in ("ck_docs", "ck_vecs")),
    )
    for name in LLM_QUERIES * 3 if ctx.job >= 0 else []:
        fn = registry[name].spark_fn

        def execute():
            with ctx.tracer.span("plans.spark_fn"):
                df = fn(ctx.spark, str(src / "sf"))
            with ctx.tracer.span("exec.action"):
                noop_write(df)

        ctx.run_op(name, execute)
    indexes = [zone / "index", zone / "vindex", *warehouse_dirs(ctx.warehouse, src / "sf")]
    ctx.sample("sources.index_versions", sum(_versions(i) for i in indexes))
    if ctx.job == 0:
        delivered = tree_bytes(src / "docs", src / "vecs")
        ctx.info.update(
            records=m["records"],
            input_bytes=delivered[1],
            input_files=delivered[0],
            stored_bytes=tree_bytes(zone / "corpus", zone / "vcorpus", *indexes)[1],
            planted_dup_share=m["planted_dup_share"],
            planted_dup_recall=recall,
        )
    reset_state(ctx, src / "sf")
    shutil.rmtree(zone, ignore_errors=True)


def _versions(index: Path) -> int:
    ptr = index / "_ptr"
    if ptr.is_dir():
        return sum(1 for f in ptr.iterdir() if f.name.isdigit())
    return int(index.exists())


# Near-duplicate recall floor. The planted near-duplicates have word-5-shingle
# Jaccard >= 0.95 with their source, where the banding curve of
# operators.dedup.minhash_lsh_pairs (16 permutations, 4 bands) predicts
# 0.998 recall. Measured over 20 seeds (400 planted documents), the engine
# caught 98 %, and one seed caught 16 of 20. The floor catches a broken
# dedup or index-probe path without failing runs on that shortfall, which
# `planted_dup_recall` in the run record keeps visible. Exact copies go
# through the deterministic digest dedup and must all be rejected.
RECALL_FLOOR = 0.75


def check_corpus(zone: Path, m: dict) -> tuple[str, float, float]:
    """Neither corpus zone holds a duplicate id or lost an original; every
    exact copy is rejected from the documents; planted-duplicate recall is
    at least RECALL_FLOOR in both zones. Returns (problem or "", accepted
    share of delivered documents, lower of the two recalls)."""
    planted = set(m["planted_dup_ids"])
    con = duckdb.connect()
    try:
        found = {}
        for zone_name, col in (("corpus", "doc_id"), ("vcorpus", "vec_id")):
            ids = [
                r[0]
                for r in con.execute(
                    f"SELECT {col} FROM read_parquet('{zone / zone_name}/**/*.parquet', "
                    "hive_partitioning=1)"
                ).fetchall()
            ]
            if len(ids) != len(set(ids)):
                return f"{zone_name}: duplicate ids", 0.0, 0.0
            found[zone_name] = set(ids)
    finally:
        con.close()
    originals = set(range(m["docs"])) - planted
    recalls = [1 - len(planted & ids) / len(planted) for ids in found.values()]
    kept_copies = set(m["planted_exact_ids"]) & found["corpus"]
    for (zone_name, ids), recall in zip(found.items(), recalls):
        lost = originals - ids
        if recall < RECALL_FLOOR or lost or kept_copies:
            return (
                f"{zone_name}: planted-duplicate recall {recall:.2f}, "
                f"{len(lost)} originals rejected, {len(kept_copies)} exact copies kept"
            ), 0.0, recall
    return "", len(found["corpus"]) / m["docs"], min(recalls)


def prepare_etl(ctx: Ctx) -> None:
    for inputs in (gen.WARM_UP, 0):
        gen.etl_deliveries(ctx.cache, ctx.seed, inputs)


def prepare_query_mix(ctx: Ctx) -> None:
    for inputs in (gen.WARM_UP, 0):
        gen.query_tables(ctx.cache, ctx.seed, inputs)


def prepare_corpus(ctx: Ctx) -> None:
    for inputs in (gen.WARM_UP, 0):
        gen.corpus_batches(ctx.cache, ctx.seed, inputs)


# name -> (set-up paid before the first timed operation, one job, seconds
# one warm job takes on a 4-core 2.1 GHz Xeon, which sizes a run's work)
WORKLOADS = {
    "etl_deliveries": (prepare_etl, etl_deliveries, 12.0),
    "query_mix": (prepare_query_mix, query_mix, 20.0),
    "corpus_curation": (prepare_corpus, corpus_curation, 22.0),
}
