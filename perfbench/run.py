"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_deliveries --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout of the repository. Inputs are generated
from ``--seed`` (cached under ``.perfbench/cache``); each job starts from a
fixed state (fresh zones and checkpoints, no persisted indexes for its
inputs) and drives the engine as one closed-loop client on Spark
``local[nproc]``. An untimed warm-up job comes first, then the timed jobs,
as many as ``--seconds`` holds. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end metrics
(``--trace 0``) or the per-layer metrics (``--trace 1``). Run details
(samples, ambient noise, workload properties, spans) go to
``.perfbench/runs/<workload>-<seed>-trace<t>.json``. Exits non-zero when a
correctness check fails or the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# Set-ups per run: the first launches the JVM (per-layer session.start_s);
# the rest stop the session and build a new one in the running JVM, so the
# median (setup_s) is the set-up the engine and the workload control.
SETUP_REPS = 3
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "aws_data_pipeline_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    base = ROOT / ".perfbench"
    work = base / "work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
        # every JVM spark-submit starts (launcher and driver): temp files
        # inside the checkout, and no hsperfdata files under /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
    )
    sys.path[:0] = [str(ROOT), str(Path(__file__).resolve().parent)]
    import workloads  # noqa: E402  (needs the engine on sys.path)
    from noise import Ambient, peak_rss_mb, tree_cpu_s  # noqa: E402
    from spans import Tracer, rest_counters  # noqa: E402

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    ambient = Ambient.start()
    tracer = Tracer(enabled=bool(args.trace))
    prepare, run_job, job_s = workloads.WORKLOADS[args.workload]
    # Every run with the same --seconds does the same work: as many jobs as
    # fit in --seconds on the reference host, at least one.
    jobs = max(1, int(args.seconds // job_s))
    ops: list = []
    rss: list[float] = []

    def run_op(kind: str, fn):
        op = workloads.Op(len(ops), kind, ctx.job, time.time(), 0.0)
        tracer.begin_op(op.op_id)
        result = None
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as exc:  # an operation failure is a result, not a crash
            op.ok, op.error = False, f"{type(exc).__name__}: {exc}"[:500]
            traceback.print_exc(file=sys.stderr)
        op.latency = time.perf_counter() - t0
        op.cpu_s = tree_cpu_s() - cpu0
        ops.append(op)
        rss.append(peak_rss_mb())
        return op, result

    ctx = workloads.Ctx(
        spark=None,
        tracer=tracer,
        seed=args.seed,
        cache=base / "cache",
        work=work,
        warehouse=ROOT / "spark-warehouse",
        run_op=run_op,
    )
    session = Session()
    setups = []
    try:
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                ctx.spark = session.start()
            prepare(ctx)
            setups.append(time.perf_counter() - t0)
        spark = ctx.spark
        # Warm-up job (job -1) over inputs of its own: loads and compiles
        # the classes and generated code the workload's operations use, as
        # a long-running engine would have them. Each timed job still runs
        # over fresh inputs, with no cached relations and no persisted
        # indexes, so data-level first-run costs stay in the timed jobs.
        with tracer.span("session.warm_up"):
            t0 = time.perf_counter()
            run_job(ctx)
            warm_up_s = time.perf_counter() - t0
        t_begin = time.perf_counter()
        for ctx.job in range(jobs):
            run_job(ctx)
        measured_s = time.perf_counter() - t_begin
        counters = {}
        if args.trace:
            windows = {op.op_id: (op.start, op.start + op.latency) for op in ops}
            builds = [
                (s.op_id, s.start, s.end) for s in tracer.spans if s.name == "plans.spark_fn"
            ]
            counters = rest_counters(spark, windows, builds)
        noise = ambient.stop()
    finally:
        session.stop()  # the JVM is a child process: stop it and wait for it

    for name, problem in ctx.info.pop("oracle_failures", {}).items():
        for op in ops:
            if op.kind == name:
                op.ok, op.error = False, problem
    failed = [op for op in ops if not op.ok]
    end_to_end, tail_label = e2e_metrics(ops, jobs, setups, rss, ctx.info)
    if args.trace:
        metrics = layer_metrics(
            ops, tracer, counters, ctx.layer, session.cold_start_s, warm_up_s, end_to_end, nproc
        )
        units = UNITS_LAYER
    else:
        metrics = {k: end_to_end[k] for k in UNITS_E2E}
        units = UNITS_E2E
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "spark_graft_cpus": nproc,
        "jobs": jobs,
        "samples": len(ops),
        "op_tail_percentile": tail_label,
        "setup_samples_s": setups,
        "session_cold_start_s": session.cold_start_s,
        "warm_up_s": warm_up_s,
        "measured_s": measured_s,
        "workload_properties": ctx.info,
        "ambient": noise,
        "end_to_end": end_to_end,
        "per_layer_samples": ctx.layer,
        "failures": [{"op": op.op_id, "kind": op.kind, "error": op.error} for op in failed],
        "ops": [vars(op) for op in ops],
        "rss_mb": rss,
        "counters": counters,
        "spans": [vars(s) for s in tracer.spans],
    }
    runs = base / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    (runs / f"{args.workload}-{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=str)
    )
    shutil.rmtree(work, ignore_errors=True)
    for op in failed:
        print(f"perfbench: op {op.op_id} {op.kind} failed: {op.error}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} ops={len(ops)} "
        f"tail={tail_label} steal={noise.get('steal_share')} load1={noise.get('load1')}",
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "correct": not failed,
                "attempted": len(ops),
                "failed": len(failed),
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0 if not failed else 1


class Session:
    """SparkSession lifecycle. The first start launches the JVM (timed as
    ``cold_start_s``); later starts stop the session and build a new one
    in the running JVM."""

    def __init__(self):
        self.spark = None
        self.cold_start_s = 0.0

    def start(self):
        from aws_data_pipeline_spark.session import get_spark

        cold = self.spark is None
        if not cold:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                # status-store retention: the traced run reads every job,
                # stage and SQL execution of the run back from the UI
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if cold:
            self.cold_start_s = time.perf_counter() - t0
        return self.spark

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        self.spark = None


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * p // 100))
    return ordered[int(rank) - 1]


def tail(values: list[float]) -> tuple[float, str]:
    """The highest ladder percentile with at least ten samples beyond it;
    with too few samples for any, the maximum."""
    n = len(values)
    for p in TAIL_LADDER:
        if n * (1 - p / 100) >= 10:
            return percentile(values, p), f"p{p:g} (n={n})"
    return max(values), f"max (n={n}, fewer than 20 samples)"


def e2e_metrics(ops, jobs, setups, rss, info) -> tuple[dict, str]:
    """End-to-end metrics over the timed jobs (job >= 0). Their wall time
    is the sum of their operation latencies (one closed-loop client, so
    operations never overlap; checks between them are excluded)."""
    timed = [op for op in ops if op.job >= 0]
    done = [op for op in timed if op.ok] or timed
    lat = [op.latency for op in done]
    seen: set[tuple[int, str]] = set()
    first, repeat = [], []
    for op in done:
        (repeat if (op.job, op.kind) in seen else first).append(op.latency)
        seen.add((op.job, op.kind))
    wall = sum(op.latency for op in timed)
    tail_s, label = tail(lat)
    return {
        "setup_s": statistics.median(setups),
        "wall_s": wall,
        "records_per_s": info["records"] * jobs / wall,
        "ops_per_min": 60.0 * len(done) / sum(lat),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_s,
        "first_op_p50_s": statistics.median(first),
        "repeat_op_mean_s": statistics.fmean(repeat),
        "peak_rss_mb": max(rss),
        "storage_amp": info["stored_bytes"] / info["input_bytes"],
    }, label


# The end-to-end metrics the result line reports. e2e_metrics also computes
# ops_per_min (60 x operations / wall_s, so it repeats wall_s), op_p50_s and
# op_tail_s (medians and maxima over mixed operation kinds, which jump
# between kinds), first_op_p50_s (one operation per ETL job) and peak_rss_mb
# (moves with the JVM's heap expansion steps) for the run record only
# (perfbench/README.md, "End-to-end metrics").
UNITS_E2E = {
    "setup_s": "s",
    "wall_s": "s",
    "records_per_s": "1/s",
    "repeat_op_mean_s": "s",
    "storage_amp": "ratio",
}

UNITS_LAYER = {
    "session.start_s": "s",
    "session.warm_up_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.core_busy_share": "ratio",
    "exec.shuffle_write_bytes": "B",
    "exec.shuffle_read_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.gc_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.cached_scans": "count",
    "pipeline.bronze_to_silver_s": "s",
    "pipeline.silver_to_gold_s": "s",
    "pipeline.rows_written": "count",
    "pipeline.redelivery_drop_ratio": "ratio",
    "sources.files_written": "count",
    "sources.bytes_written": "B",
    "sources.small_files": "count",
    "sources.json_scan_s": "s",
    "sources.index_versions": "count",
    "streaming.corpus_ingest_s": "s",
    "streaming.embedding_ingest_s": "s",
    "streaming.micro_batches": "count",
    "streaming.novel_ratio": "ratio",
    "streaming.dup_recall": "ratio",
    "operators.agg_build_s": "s",
    "operators.sort_s": "s",
    "operators.join_build_s": "s",
    "trace.wall_s": "s",
}


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def layer_metrics(ops, tracer, counters, samples, cold_start_s, warm_up_s, e2e, nproc) -> dict:
    """Per-layer metrics, each a mean per operation (times, counters) or
    per job (ratios), so runs of different lengths compare."""
    ops = [op for op in ops if op.job >= 0]
    timed = {op.op_id for op in ops}
    per_op = [c for i, c in counters.items() if i in timed]
    planned = {s.op_id for s in tracer.spans if s.name == "plans.spark_fn"} & timed
    build_jobs = [counters[i]["build_jobs"] for i in planned if i in counters]
    busy = [
        counters[op.op_id]["executor_run_s"] / (op.latency * nproc)
        for op in ops
        if op.op_id in counters and op.latency > 0
    ]

    def seconds(name: str) -> float:
        return _mean(tracer.seconds(name, timed))

    out = {
        "session.start_s": cold_start_s,
        "session.warm_up_s": warm_up_s,
        "plans.build_s": seconds("plans.spark_fn"),
        "plans.build_jobs": _mean(build_jobs),
        "exec.jobs": _mean(c["jobs"] for c in per_op),
        "exec.stages": _mean(c["stages"] for c in per_op),
        "exec.tasks": _mean(c["tasks"] for c in per_op),
        "exec.core_busy_share": _mean(busy),
        "exec.shuffle_write_bytes": _mean(c["shuffle_write_bytes"] for c in per_op),
        "exec.shuffle_read_bytes": _mean(c["shuffle_read_bytes"] for c in per_op),
        "exec.spill_bytes": _mean(c["spill_bytes"] for c in per_op),
        "exec.gc_s": _mean(c["gc_s"] for c in per_op),
        "exec.executor_cpu_s": _mean(c["executor_cpu_s"] for c in per_op),
        "exec.cached_scans": _mean(c["cached_scans"] for c in per_op),
        "pipeline.bronze_to_silver_s": seconds("pipeline.bronze_to_silver"),
        "pipeline.silver_to_gold_s": seconds("pipeline.silver_to_gold"),
        "sources.json_scan_s": seconds("sources.json_scan"),
        "streaming.corpus_ingest_s": seconds("streaming.corpus_ingest"),
        "streaming.embedding_ingest_s": seconds("streaming.embedding_ingest"),
        "operators.agg_build_s": _mean(c["agg_build_s"] for c in per_op),
        "operators.sort_s": _mean(c["sort_s"] for c in per_op),
        "operators.join_build_s": _mean(c["join_build_s"] for c in per_op),
        "trace.wall_s": e2e["wall_s"],
    }
    for name in UNITS_LAYER:
        if name not in out:
            out[name] = _mean(samples.get(name, []))
    return out


if __name__ == "__main__":
    sys.exit(main())
