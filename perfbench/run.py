"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_stream --seed 1 --seconds 16 --trace 0

Runs one workload in this fresh process on ``local[nproc]`` and prints, as
the last stdout line, ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the workload runs with spans around each layer call, the Spark event log
and a streaming progress listener, and the metrics are the per-layer ones
(``trace.op_p50_ms`` against an untraced run's ``op_p50_ms`` of the same
seed is the tracing overhead). A detail line before the result records the environment, the
input shape and the workload's own figures. Everything the run writes
lives under ``.perfbench_work/`` (deleted at exit) and ``.perfbench_out/``
(the spans of the last traced run) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

OP_SPAN = {"ingest_stream": "wave", "query_sweep": "call"}

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "work_per_s": "1/s",
}

_HOP_FIELDS = {
    "drain_s": "s",
    "add_batch_ms": "ms",
    "batches": "count",
    "rows_in": "count",
    "start_s": "s",
    "commit_ms": "ms",
    "state_rows": "count",
    "state_mb": "MB",
}

PER_LAYER = {
    "sources.read_parse_s": "s",
    "operators.route_s": "s",
    "operators.dedup_s": "s",
    "operators.lifecycle_s": "s",
    "operators.entities_s": "s",
    "sinks.parquet_write_s": "s",
    "operators.rows_in": "count",
    "operators.rows_routed": "count",
    "sinks.rows_out": "count",
    **{
        f"streaming.{hop}.{field}": unit
        for hop in ("resolve", "rekey", "entity", "sink")
        for field, unit in _HOP_FIELDS.items()
    },
    "sources.nats.publish_s": "s",
    "sources.nats.lag_end": "count",
    "plans.construct_ms_p50": "ms",
    "plans.execute_ms_p50": "ms",
    "plans.queries.warm_s": "s",
    "plans.queries.cold_s": "s",
    "analytics.text.warm_s": "s",
    "analytics.text.cold_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.idle_s": "s",
    "spark.jobs_per_query": "count",
    "trace.op_p50_ms": "ms",
    "trace.layers_ms": "ms",
    "trace.remainder_ms": "ms",
}


def _ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def _git_sha() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            return open(os.path.join(ROOT, ".git", ref[5:])).read().strip()
        return ref
    except OSError:
        return None


def _stop_spark() -> None:
    """Stop the session (flushing the event log), then the JVM, and wait
    for it to exit; Spark's Python workers exit with it."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
    except Exception as e:  # noqa: BLE001 — a broken gateway; the JVM still stops below
        print(f"perfbench: stopping the session failed: {e}", file=sys.stderr)
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001


def main() -> int:
    t_start = time.perf_counter()
    # a terminated run still stops Spark and deletes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(OP_SPAN))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--sf", type=float, default=0.01,
        help="TPC-H scale the seeded order subset is cut from (0.001 for a smoke run)",
    )
    args = ap.parse_args()

    nproc = len(os.sched_getaffinity(0))
    ram_mb = _ram_mb()
    heap_mb = max(1024, min(2048, ram_mb // 4))
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    )
    for d in ("tmp", "local", "stage"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # run hygiene: every byte the run writes stays in its own work dir, the
    # Python workers import the package from this checkout, and Spark runs
    # as many threads as this process may use with a heap that fits the box
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_STAGE_CACHE_DIR=os.path.join(work, "stage"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONPATH=os.pathsep.join(
            [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
    )
    sys.path[:0] = [ROOT, HERE]
    try:
        try:
            import measure
            import workloads
        except ImportError as e:
            print(f"perfbench: the program is not importable here: {e}", file=sys.stderr)
            return 2
        return _run(args, work, nproc, ram_mb, heap_mb, measure, workloads, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work, nproc, ram_mb, heap_mb, measure, workloads, t_start) -> int:
    import pyspark

    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        # a fixed heap and young generation: the collector does not size
        # them differently from run to run
        "spark.driver.extraJavaOptions": f"-Xms{heap_mb}m -Xmn{heap_mb // 4}m"
        " -Xlog:disable -Djava.io.tmpdir="
        + os.path.join(work, "tmp"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        conf.update(measure.event_log_conf(log_dir))
    tracer = measure.Tracer(bool(args.trace), f"{args.workload}-{args.seed}")
    rss = measure.PeakRss()
    ctx = workloads.Ctx(args.seed, args.seconds, args.sf, work, tracer, conf, rss)
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        rss.stop()
        _stop_spark()

    op_p50_ms = measure.median(res.op_s) * 1000
    detail = {
        "workload": args.workload,
        "env": {
            "nproc": nproc,
            "ram_mb": ram_mb,
            "heap_mb": heap_mb,
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "seed": args.seed,
            "git_sha": _git_sha(),
            "traced": bool(args.trace),
            "run_s": round(time.perf_counter() - t_start, 2),
        },
        "input": res.shape,
        "named": {
            k: {"value": v, "unit": u}
            for k, (v, u) in {
                **res.named,
                "op_p50_ms": (op_p50_ms, "ms"),
                "ops": (len(res.op_s), "count"),
                "failed_frac": (res.failed / max(1, res.attempted), "ratio"),
            }.items()
        },
        "samples": res.samples,
        "peak_rss_by_process": {
            name: {"mb": round(kb / 1024), "processes": n}
            for name, (kb, n) in rss.peak_by_name.items()
        },
    }
    if args.trace:
        metrics = {k: 0 for k in PER_LAYER}
        metrics.update(res.layers)
        op = OP_SPAN[args.workload]
        spans = tracer.spans
        windows = [(s["start"], s["end"]) for s in spans if s["name"] == op]
        metrics.update(measure.spark_counters(log_dir, windows))
        layers_ms = measure.median(
            [sum(v.values()) * 1000 for v in measure.per_op_layers(spans, op)]
        )
        metrics.update(
            {
                "trace.op_p50_ms": op_p50_ms,
                "trace.layers_ms": layers_ms,
                "trace.remainder_ms": op_p50_ms - layers_ms,
            }
        )
        for name in sorted(set(metrics) - set(PER_LAYER)):
            # e.g. an entry moved to a module BENCHMARK.json does not list
            print(f"perfbench: dropping unlisted metric {name}", file=sys.stderr)
            del metrics[name]
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"{args.workload}-spans.jsonl"))
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": res.setup_s,
            "peak_rss_mb": rss.mb,
            "work_per_s": res.work_per_s,
        }
        units = END_TO_END
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": res.failed == 0 and res.attempted > 0,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {
                    k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
