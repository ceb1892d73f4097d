"""Streaming ingest THROUGHPUT bench (VERDICT r10 task #4).

The reference is an importer — its whole job is NATS envelope →
RDBMS row (NatsConsumer.java:34-35 in the reference repo) — so the
import side needs throughput evidence the way the query side got the
decade table. This tool measures the two-query streaming topology as
envelopes/second with per-hop attribution:

  source         file: ordered chunk write (prep, reported separately)
                 wire: TCP publish into the in-repo JetStream double
  land           wire only: the driver drains the new sequences into
                 the landing directory (sources/nats_source.land)
  resolve_rekey  hop A — F1-F3 envelope filters, C5 definition
                 buffering, C4 call-activity re-key, F5/F6 routing
  entity_sink    hop B — D1-D4/C1-C3 keyed entity fold and the
                 change-log write
  sink           change-log → five typed tables, parquet commit

Knobs: ``--transport file|wire``; ``--definitions per-bpmn`` keys
every instance by one definition per bpmnProcessId (a few definitions
with many instances and call-activity children each, the shape of a
real deployment), where the corpus as generated gives every instance
its own definition key. The state-store shard count of the
two stateful hops is spark.sql.shuffle.partitions, which
``build_session`` derives from ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` or
else ``SPARK_GRAFT_CPUS`` (default 32); set ``SPARK_GRAFT_CPUS`` to the
host's core count, or the run mostly measures empty state shards. The
run uses a fresh work dir (state shards are fixed at first checkpoint).

Prints one JSON line ("partitions" is the session's shuffle width):
  {"metric": "ingest_env_per_sec", "transport": ..., "definitions": ...,
   "partitions": N,
   "envelopes": N, "pipeline_sec": s, "eps": N,
   "hops": {"source": s, ["land": s,] "resolve_rekey": s,
            "entity_sink": s, "sink": s}, "sf": ...}
``pipeline_sec``/``eps`` cover every hop but the source (the engine's
steady-state work); the source column shows the feed cost separately
(file prep is a bench artifact; the wire publish is a real deployment
hop but paced by the single-socket publisher, not the engine).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from ph_ee_nats_importer_rdbms_spark.operators.classify import definition_dim  # noqa: E402
from ph_ee_nats_importer_rdbms_spark.plans import staging  # noqa: E402
from ph_ee_nats_importer_rdbms_spark.plans.queries import (  # noqa: E402
    flat_events_staged,
)
from ph_ee_nats_importer_rdbms_spark.session import build_session  # noqa: E402
from ph_ee_nats_importer_rdbms_spark.sources.nats_source import land  # noqa: E402
from ph_ee_nats_importer_rdbms_spark.streaming import (  # noqa: E402
    pipeline as sp,
    replay,
)
from ph_ee_nats_importer_rdbms_spark.streaming.batch_replay import (  # noqa: E402
    _typed_entity,
)


def _flat_corpus(spark, sf_dir, definitions):
    flat = flat_events_staged(spark, sf_dir)
    if definitions == "per-bpmn":
        # a definition key per C5-resolved bpmnProcessId; a key that never
        # resolves stays as generated
        dim = definition_dim(flat)
        flat = (
            flat.join(F.broadcast(dim), "process_definition_key", "left")
            .withColumn(
                "process_definition_key",
                F.when(
                    F.col("resolved_bpmn").isNotNull(),
                    F.pmod(F.xxhash64("resolved_bpmn"), F.lit(1 << 40)),
                ).otherwise(F.col("process_definition_key")),
            )
            .select(*flat.columns)
        )
    return flat, flat.count()


def _sink(spark, changes_path: str, out_root: str) -> float:
    t0 = time.perf_counter()
    tables = sp.materialize_tables(spark, changes_path)
    for name in replay.TABLES:
        df = tables[name]
        if name in replay._ENTITY_SCHEMAS:
            df = _typed_entity(df, replay._ENTITY_SCHEMAS[name])
        df.write.mode("overwrite").parquet(os.path.join(out_root, name))
    return time.perf_counter() - t0


def run_file(spark, sf_dir, work, chunks, definitions) -> dict:
    flat, n = _flat_corpus(spark, sf_dir, definitions)
    src = os.path.join(work, "source")
    t0 = time.perf_counter()
    replay.write_ordered_chunks(flat, src, chunks=chunks)
    source_sec = time.perf_counter() - t0
    hops: dict = {}
    paths = sp.run_multi_hop(
        spark,
        sp.read_raw_stream(spark, src, max_files_per_trigger=1),
        os.path.join(work, "work"),
        hop_timings=hops,
    )
    hops["sink"] = _sink(spark, paths["changes"], os.path.join(work, "tables"))
    hops["source"] = source_sec
    return {"envelopes": n, "hops": hops}


def run_wire(spark, sf_dir, work, waves, definitions) -> dict:
    from tests.nats_mini_server import MiniNatsServer

    flat, n = _flat_corpus(spark, sf_dir, definitions)
    src = os.path.join(work, "source")
    replay.write_ordered_chunks(flat, src, chunks=waves, sort_within=True)
    chunk_files = sorted(
        os.path.join(src, f) for f in os.listdir(src) if f.startswith("chunk-")
    )
    hops: dict = {"source": 0.0, "land": 0.0}
    waves_sec: list[float] = []
    landing = os.path.join(work, "landing")
    with MiniNatsServer() as s:
        options = {"transport": "wire", "servers": s.url, "stream": s.js.stream}
        for path in chunk_files:
            t0 = time.perf_counter()
            replay._publish_file(s.url, s.js.subject, path)
            hops["source"] += time.perf_counter() - t0
            t0 = time.perf_counter()
            land(options, landing)
            hops["land"] += time.perf_counter() - t0
            paths = sp.run_multi_hop(
                spark,
                sp.read_landed_stream(spark, landing),
                os.path.join(work, "work"),
                hop_timings=hops,
            )
            # per-wave drain time: wave 1 is a cold topology, wave 2+ a
            # checkpointed RESTART against the broker's new tail — the
            # wave-over-wave delta on equal-size waves is the resume
            # overhead (query restarts + state-store reload)
            waves_sec.append(round(time.perf_counter() - t0, 2))
    hops["sink"] = _sink(spark, paths["changes"], os.path.join(work, "tables"))
    return {"envelopes": n, "hops": hops, "waves_sec": waves_sec}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--transport", default="file", choices=["file", "wire"])
    ap.add_argument("--chunks", type=int, default=replay.REPLAY_CHUNKS)
    ap.add_argument("--waves", type=int, default=replay.WIRE_WAVES)
    ap.add_argument("--definitions", default="as-generated", choices=["as-generated", "per-bpmn"])
    args = ap.parse_args()

    spark = build_session(
        app_name="ph-ee-spark-ingest-bench",
        extra_conf={"spark.driver.extraJavaOptions": "-Xlog:disable"},
    )
    sf = args.sf.rstrip("/").rsplit("sf", 1)[-1]
    partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    work = tempfile.mkdtemp(prefix=f"ingest_{args.transport}_")
    try:
        if args.transport == "file":
            r = run_file(spark, args.sf, work, args.chunks, args.definitions)
        else:
            r = run_wire(spark, args.sf, work, args.waves, args.definitions)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    hops = {k: round(v, 2) for k, v in r["hops"].items()}
    pipeline_sec = round(
        sum(v for k, v in r["hops"].items() if k != "source"), 2
    )
    print(
        json.dumps(
            {
                "metric": "ingest_env_per_sec",
                "transport": args.transport,
                "definitions": args.definitions,
                "partitions": partitions,
                "envelopes": r["envelopes"],
                "pipeline_sec": pipeline_sec,
                "eps": round(r["envelopes"] / pipeline_sec),
                "hops": hops,
                **({"waves_sec": r["waves_sec"]} if "waves_sec" in r else {}),
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
