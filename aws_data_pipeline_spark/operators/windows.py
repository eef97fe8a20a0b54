"""Window-function operators (SURVEY.md §2.5: top-k per group, running
aggregates, lag/lead deltas, sessionization)."""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """Per-group top-k via row_number — the scalable replacement for global sorts.

    Always pass a total order (tie-break on a unique key) so results are
    deterministic and re-runnable.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def running_sum(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    value_col: str,
    out_col: str = "running_total",
    scale: str = "decimal(30,2)",
) -> DataFrame:
    """Cumulative sum over an unbounded-preceding frame, decimal-exact so the
    prefix sums are order-of-evaluation independent."""
    w = (
        Window.partitionBy(*partition_by)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(
        out_col, F.sum(F.col(value_col).cast(scale)).over(w).cast("double")
    )


def lag_delta_days(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    ts_col: str,
    out_col: str = "days_since_prev",
) -> DataFrame:
    """Days elapsed since the previous row in the partition (null for first)."""
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn(
        out_col, F.datediff(F.col(ts_col), F.lag(F.col(ts_col)).over(w))
    )


def sessionize(
    df: DataFrame,
    key: str,
    ts_col: str,
    gap_seconds: int,
    session_col: str = "session_id",
    tiebreak: str | None = None,
) -> DataFrame:
    """Gaps-and-islands sessionization: a new session starts when the gap to
    the previous event exceeds ``gap_seconds``; session id is the running
    count of session starts per key. Two window passes over one shuffle on
    ``key`` — the batch twin of Structured Streaming's session_window.

    Pass ``tiebreak`` (a unique key, e.g. event_id) to make the window order
    total: with timestamp ties and no tie-break, ``lag`` pairs rows
    nondeterministically and session boundaries can flip between runs.
    """
    order = [F.col(ts_col).asc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(key).orderBy(*order)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    # gap in FRACTIONAL seconds (timestamp -> double keeps microseconds):
    # unix_timestamp truncates to whole seconds, which mis-decides
    # boundaries by up to ~1s on sub-second data and diverges from both
    # the streaming session_window twin and the DuckDB oracle's epoch()
    is_new = (
        prev_ts.isNull()
        | (
            F.col(ts_col).cast("double") - prev_ts.cast("double")
            > gap_seconds
        )
    ).cast("long")
    return df.withColumn("__new", is_new).withColumn(
        session_col, F.sum("__new").over(wrun)
    ).drop("__new")


def global_row_number(
    df: DataFrame,
    order_by: Sequence[Column],
    out_col: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed global row_number — the scale path for an unpartitioned
    ``Window.orderBy`` (which Spark plans as ``Exchange SinglePartition`` +
    one-task WindowExec: the whole frame through one core at 100 TB).

    Three declarative steps, none single-partition:

    1. ``repartitionByRange`` on the order keys — Spark's distributed sort
       machinery (sampled range boundaries; partition i's keys all precede
       partition i+1's) — plus ``sortWithinPartitions``: together a full
       distributed sort. ``localCheckpoint`` pins boundaries AND row order
       so the two downstream jobs (offset count + final projection) see
       the SAME rows in the SAME positions — without it a re-sample
       between jobs could shift rows across partitions and corrupt the
       offsets.
    2. LOCAL row number read off the low 33 bits (the row offset) of
       ``monotonically_increasing_id()`` over the pinned sorted scan,
       keyed by ``spark_partition_id()`` (parallel, no global sort, and
       no WindowExec: a window partitioned by ``spark_partition_id()``
       re-shuffles the frame, because the checkpoint scan's
       UnknownPartitioning can't prove the clustering it has by
       construction).
    3. One bounded collect of per-partition counts (one long per range
       partition) -> cumulative offsets, broadcast-joined back; global
       row number = local row number + partition offset.

    ``order_by`` must be a TOTAL order (tie-break on a unique key): then the
    result is deterministic regardless of where the sampled boundaries land.
    """
    out, _ = _global_row_number_with_total(df, order_by, out_col, num_partitions)
    return out


def _global_row_number_with_total(
    df: DataFrame,
    order_by: Sequence[Column],
    out_col: str,
    num_partitions: int | None,
) -> tuple[DataFrame, int]:
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # The ONLY shuffle in the pass: range-repartition on the order keys,
    # then SORT WITHIN each range partition — the checkpoint pins the
    # sorted rows, so the local row number can be read off
    # ``monotonically_increasing_id()`` ((partition << 33) + row offset
    # in pinned partition order) instead of a ``row_number`` window.
    # The window form paid a SECOND full shuffle per pass: a checkpoint
    # scan reports UnknownPartitioning, so WindowExec's
    # ClusteredDistribution(__pid) re-planned an
    # ``Exchange hashpartitioning(__pid)`` over data that was already
    # perfectly clustered by construction (r14, guide §2.1 — remove the
    # shuffle outright; rfm job attribution: the per-pass AQE
    # materialization of that exchange disappears with it). Sort work is
    # unchanged — sortWithinPartitions here replaces the window's
    # [__pid, order] sort there.
    #
    # LAZY checkpoint: the offsets collect below is the first action on
    # this frame and materializes the checkpoint inside its own job, so
    # boundary pinning costs no separate eager-materialization job (r13).
    # The pinning guarantee is unchanged — localCheckpoint persists every
    # partition computed by that first job (and back-fills any missing at
    # its end), so the final-projection job reads the SAME partitioning
    # AND per-partition row order the offsets pass saw; the id expression
    # is deterministic over a pinned scan (task partition index + row
    # position), so both jobs see identical (__pid, __lrn) for every row.
    # Bounds: ids are (pid << 33) | offset, so this holds to 2^33 rows
    # per range partition — STRICTLY WIDER than the window form it
    # replaces (row_number is a 32-bit int, 2^31 rows per partition).
    # __pid comes from spark_partition_id(), the same expression the
    # offsets pass groups on, so the join key never depends on the id's
    # bit layout; the id supplies only the low-33-bit row offset.
    part = (
        df.repartitionByRange(n, *order_by)
        .sortWithinPartitions(*order_by)
        .localCheckpoint(eager=False)
    )
    local = (
        part.withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__lrn",
            F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
            + F.lit(1),
        )
    )
    counts = dict(
        part.groupBy(F.spark_partition_id().alias("__pid"))
        .agg(F.count("*").alias("c"))
        .collect()
    )  # bounded: one row per range partition
    offsets, acc = [], 0
    for pid in range(n):
        c = counts.get(pid, 0)
        if c > 1 << 33:
            raise ValueError(
                f"range partition {pid} holds {c} rows, above the 2^33 "
                "row-offset field of monotonically_increasing_id; raise "
                "num_partitions"
            )
        offsets.append((pid, acc))
        acc += c
    off = F.broadcast(
        spark.createDataFrame(offsets, schema="__pid int, __off long")
    )
    out = (
        local.join(off, "__pid")
        .withColumn(out_col, (F.col("__lrn") + F.col("__off")).cast("long"))
        .drop("__pid", "__lrn", "__off")
    )
    return out, acc


def global_prefix_sum(
    df: DataFrame,
    order_by: Sequence[Column],
    value_cols: Sequence[str],
    out_prefix: str = "cum_",
    num_partitions: int | None = None,
) -> tuple[DataFrame, dict[str, int]]:
    """Distributed exact prefix sums over a GLOBAL total order — the scale
    path for ``SUM(x) OVER (ORDER BY ...)`` with no PARTITION BY, which
    Spark plans as ``Exchange SinglePartition`` + a one-task WindowExec
    (the whole frame through one core at 100 TB). The classic parallel
    scan, expressed with the same three declarative steps as
    :func:`global_row_number`:

    1. ``repartitionByRange`` on the order keys (boundary-pinning
       ``localCheckpoint`` — see :func:`global_row_number` for why);
    2. LOCAL running sums within each range partition (WindowExec
       partitioned by ``spark_partition_id()`` — parallel);
    3. one bounded collect of per-partition column totals (one row per
       range partition) -> cumulative offsets, broadcast-joined back.

    ``value_cols`` must be integral (or decimal) so the sums are exact and
    order-of-evaluation independent; ``order_by`` must be a total order.
    Returns ``(df_with_cums, grand_totals)`` — each ``value_cols`` entry
    gains an ``{out_prefix}{col}`` long column, and ``grand_totals`` maps
    each value column to its full-frame sum (already paid for by the
    offset pass — callers needing "the total" never run a second job).

    Step 2 keeps the WindowExec DELIBERATELY (r14 measurement): like the
    global-rank helper, the checkpoint scan's UnknownPartitioning makes
    the window re-plan an ``Exchange hashpartitioning(__pid)``, but the
    alternative — a ``mapInPandas`` cumsum with a cross-batch carry over
    a pinned sorted scan — was built, verified, and measured 20-30%
    SLOWER at sf0.1 (evidence/dqks_prefix_scan_ab_r14.txt): the Arrow
    round-trip of the whole frame costs more than the bounded-width
    exchange it removes. The monotonic-id trick that fixed the rank
    helper cannot express a running SUM, so the window stays.
    """
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # lazy checkpoint, materialized by the totals collect below — same
    # one-job-saved fusion (and same pinning guarantee) as
    # :func:`_global_row_number_with_total`
    part = df.repartitionByRange(n, *order_by).localCheckpoint(eager=False)
    part = part.withColumn("__pid", F.spark_partition_id())
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = part
    for c in value_cols:
        local = local.withColumn(
            f"__l_{c}", F.sum(F.col(c)).over(w).cast("long")
        )
    counts = {
        r["__pid"]: r
        for r in part.groupBy("__pid")
        .agg(*[F.sum(c).cast("long").alias(c) for c in value_cols])
        .collect()
    }  # bounded: one row per range partition
    offsets: list[tuple] = []
    acc = {c: 0 for c in value_cols}
    for pid in range(n):
        offsets.append((pid, *[acc[c] for c in value_cols]))
        row = counts.get(pid)
        if row is not None:
            for c in value_cols:
                acc[c] += row[c] or 0
    schema = ", ".join(
        ["__pid int"] + [f"__off_{c} long" for c in value_cols]
    )
    off = F.broadcast(spark.createDataFrame(offsets, schema=schema))
    out = local.join(off, "__pid")
    for c in value_cols:
        out = out.withColumn(
            f"{out_prefix}{c}",
            (F.col(f"__l_{c}") + F.col(f"__off_{c}")).cast("long"),
        ).drop(f"__l_{c}", f"__off_{c}")
    return out.drop("__pid"), acc


def global_ntile(
    df: DataFrame,
    k: int,
    order_by: Sequence[Column],
    out_col: str = "ntile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed ``ntile(k)`` over a global order — exact SQL ntile
    semantics (first ``n mod k`` buckets get ``ceil(n/k)`` rows, the rest
    ``floor(n/k)``), computed from :func:`global_row_number` plus the total
    count the offset pass already produced — so it costs nothing beyond the
    row-number itself and never plans a SinglePartition exchange."""
    ranked, n = _global_row_number_with_total(
        df, order_by, "__rn", num_partitions
    )
    q, r = divmod(n, k)
    head = r * (q + 1)  # rows covered by the (q+1)-sized leading buckets
    rn = F.col("__rn")
    bucket = F.when(
        rn <= head, F.ceil(rn / F.lit(q + 1))
    ).otherwise(F.lit(r) + F.ceil((rn - F.lit(head)) / F.lit(max(q, 1))))
    return ranked.withColumn(out_col, bucket.cast("int")).drop("__rn")
