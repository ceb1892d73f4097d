"""Benchmark harness: runs every registry query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints TWO
JSON lines: the full detail {"metric", "value" (warm total sec), "unit",
"sf", "queries": {name: sec}, "value_cold", "queries_cold": {name: sec}}
with the warm headline keys first, then a COMPACT summary line carrying
just the totals — short enough that a bounded capture window (the driver
records a ~2000-char tail) always preserves the round-comparable warm
number even when the detail line is truncated (VERDICT r7 task #4).

Each query is timed to FULL materialization of every output column: a
bare count() lets Catalyst prune map-only projections down to a row
count (a per-doc scorer would "run" in 0.1s at any scale without ever
computing its score), so the harness folds one xxhash64 across all
output columns into a single max — every column evaluates, nothing
transfers to the driver beyond one row.

COLD/WARM CONTRACT (VERDICT r6 task #5): every query runs TWICE.
The first run ("queries_cold") absorbs whatever first-touch staging its
family needs — staged artifacts build on first use, so WHICH query pays
that cost depends on registry order, and registry order rotates every
round with the correctness driver's snapshot cap. The second run
("queries", the headline "value") reads everything staged and is the
ROUND-COMPARABLE number: a rotation that moves a family's head entry can
shift cold numbers by seconds while warm numbers stay put (round 5's
embedding_outliers read 7.25s cold-as-head vs 0.95s warm — same code).
Regressions should be judged warm-vs-warm; cold-vs-warm gaps locate
staging cost."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ph_ee_nats_importer_rdbms_spark.plans.queries import QUERIES
from ph_ee_nats_importer_rdbms_spark.session import build_session


_HERE = os.path.dirname(os.path.abspath(__file__))

#: full-detail record of the last complete sweep at each sf — the
#: reference the outlier pass adjudicates against (the driver's
#: BENCH_r*.json keeps only the compact summary + a truncated tail, so
#: per-query history has to be self-maintained)
_LOCAL_REF = os.path.join(_HERE, "BENCH_LOCAL_LATEST.json")


def _previous_round_warm(sf: str) -> dict[str, float]:
    """Per-query warm timings of the previous sweep at this sf and core
    count: the self-maintained full-detail reference when present, else
    whatever name/seconds pairs survive in the newest BENCH_r*.json's
    truncated tail. A reference recorded on another ``cpus`` than this
    run's ``SPARK_GRAFT_CPUS`` is not comparable (an 8-core warm time is
    no baseline for a 32-core one). Missing, unparseable or incomparable
    references mean no adjudication (first round, renamed entries),
    never a bench failure."""
    import glob
    import re

    def _same_sf(recorded) -> bool:
        # records store sf as float, the CLI passes a string: "10" must
        # match 10.0 or the adjudication pass silently disables itself
        # at exactly the integer scale factors it was built for
        try:
            return float(recorded) == float(sf)
        except (TypeError, ValueError):
            return str(recorded) == str(sf)

    def _cores(recorded) -> str:
        # unset means build_session's default core count
        return str(recorded if recorded is not None else "").strip() or "32"

    cpus = _cores(os.environ.get("SPARK_GRAFT_CPUS"))

    def _comparable(rec: dict) -> bool:
        return _same_sf(rec.get("sf")) and _cores(rec.get("cpus")) == cpus

    try:
        with open(_LOCAL_REF) as f:
            ref = json.load(f)
        if _comparable(ref):
            return {
                k: float(v)
                for k, v in ref.get("queries", {}).items()
                if isinstance(v, (int, float))
            }
    except (OSError, ValueError):
        pass
    best_n, best = -1, None
    for p in glob.glob(os.path.join(_HERE, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if m and int(m.group(1)) > best_n:
            best_n, best = int(m.group(1)), p
    if best is None:
        return {}
    try:
        with open(best) as f:
            rec = json.load(f)
        if not _comparable(rec):
            return {}
        pairs = re.findall(r'"([a-z0-9_]+)":\s*([0-9.]+)', rec.get("tail", ""))
        return {k: float(v) for k, v in pairs}
    except (OSError, ValueError):
        return {}


def materialize(df) -> int:
    """Force evaluation of EVERY output column; return the row count.
    count() alone is not materialization — Catalyst prunes unneeded
    columns, so a map-only projection's entire compute is skipped."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h"),
    ).collect()[0]
    return row["n"]


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    only = sys.argv[1:]
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # -Xlog:disable: under heap pressure (the 100x corpora) the JVM's
    # unified logging writes gc,alloc warnings to THIS process's stdout,
    # and the harness contract is JSON-only stdout (the detail line plus
    # the compact summary line) — observed a "[warning][gc,alloc] ...
    # Retried waiting for GC" line landing ahead of the JSON at sf10.
    spark = build_session(
        app_name="ph-ee-spark-bench",
        extra_conf={"spark.driver.extraJavaOptions": "-Xlog:disable"},
    )

    # Standard JVM warmup (codegen, Hadoop FS init, task-scheduler spin-up)
    # on data-independent work, so the first timed query measures the query,
    # not one-time session costs.
    spark.range(10_000_000).selectExpr("sum(id)").collect()
    # Warm the parquet reader/writer code path on a THROWAWAY file (never
    # the dataset): the first parquet touch in a session otherwise pays
    # ~2-4s of Hadoop/parquet class init, which lands on whichever query
    # happens to be first in registry order — measurement noise, not query
    # cost. (Registry order is driven by the correctness driver's snapshot
    # cap, so the head entry changes round to round.)
    import tempfile

    with tempfile.TemporaryDirectory() as _wd:
        _p = os.path.join(_wd, "warm.parquet")
        spark.range(1).write.mode("overwrite").parquet(_p)
        spark.read.parquet(_p).count()

    # Warm the Python/Arrow worker pool too: the first Arrow-exchange
    # stage in a session pays python.daemon fork + Arrow serializer init
    # (measured: the registry's first applyInPandas query swings 0.2s vs
    # ~4s between runs depending on whether a prior session's pool is
    # alive). One trivial mapInPandas puts that cost here, not on
    # whichever query happens to hit Python first.
    def _ident(it):
        yield from it

    spark.range(32).repartition(4).mapInPandas(_ident, "id long").count()

    # At the 100x bench scale, ~100 queries share one JVM heap: a query
    # scheduled after a multi-GB aggregation pays its neighbor's GC wave
    # (measured at sf10: 4 entries looked supralinear in sequence but
    # were linear in isolation — BENCH_NOTES round 6). GC barrier
    # between queries attributes heap pressure to the query that caused
    # it instead of whoever runs next — ON by default since round 11:
    # BENCH_r10 carried phantom warm swings (ann_search_store 12.2s
    # recorded vs 1.82s isolated) that forced manual adjudication
    # (VERDICT r10 task #2).
    gc_between = os.environ.get("SPARK_GRAFT_BENCH_GC", "1").strip() not in (
        "0", "false", "no", "off",
    )

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name, (fn, _) in QUERIES.items():
        if only and name not in only:
            continue
        for run, book in (("cold", cold), ("warm", timings)):
            if gc_between:
                spark._jvm.System.gc()  # noqa: SLF001
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            n = materialize(df)
            book[name] = round(time.perf_counter() - t0, 3)
            print(
                f"# {name} [{run}]: {book[name]:.3f}s ({n} rows)",
                file=sys.stderr,
            )

    # Self-adjudicating outlier pass (VERDICT r10 task #2): any entry
    # whose warm time regressed >2x against the previous round's
    # recorded warm (and is big enough for the swing to matter) gets an
    # isolated re-measure — GC barrier, then best-of-two — appended as
    # "queries_isolated", so a shared-heap phantom is adjudicated by
    # the artifact itself instead of a manual re-run. Code regressions
    # reproduce in isolation; context noise does not.
    isolated: dict[str, float] = {}
    prev = _previous_round_warm(sf)
    suspects = [
        n
        for n, t in timings.items()
        if t > 1.0 and n in prev and prev[n] > 0 and t > 2 * prev[n]
    ]
    for name in suspects[:12]:  # bound the adjudication cost
        fn = QUERIES[name][0]
        best = None
        for _ in range(2):
            spark._jvm.System.gc()  # noqa: SLF001
            t0 = time.perf_counter()
            materialize(fn(spark, sf_dir))
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        isolated[name] = round(best, 3)
        print(
            f"# {name} [isolated]: {isolated[name]:.3f}s "
            f"(warm {timings[name]:.3f}s, prev {prev[name]:.3f}s)",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    total_cold = round(sum(cold.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip() or None
    if not only:  # a full sweep becomes the next run's reference
        try:
            with open(_LOCAL_REF, "w") as f:
                json.dump(
                    {
                        "sf": sf_val,
                        "cpus": cpus,
                        "queries": timings,
                        "value": total,
                    },
                    f,
                )
                f.write("\n")
        except OSError:
            pass
        # Durable full-detail record for round-over-round per-query
        # comparison (VERDICT r13 task #8): the driver's BENCH_r*.json
        # keeps only a ~2000-char tail of stdout, which truncates the
        # detail line — BENCH_DETAIL.json carries the complete warm/cold
        # per-query dicts plus the core count (ADVICE r13: artifacts must
        # record the hardware config they were measured on).
        try:
            with open(os.path.join(_HERE, "BENCH_DETAIL.json"), "w") as f:
                json.dump(
                    {
                        "metric": "total_query_sec",
                        "value": total,
                        "unit": "sec",
                        "sf": sf_val,
                        "cpus": cpus,
                        "queries": timings,
                        "queries_isolated": isolated,
                        "value_cold": total_cold,
                        "queries_cold": cold,
                    },
                    f,
                )
                f.write("\n")
        except OSError:
            pass
    # Full detail line: warm headline keys FIRST, queries_cold last
    # (VERDICT r7 task #4 — round 7's capture window truncated the line
    # and lost the round-comparable warm total to the cold dict).
    print(
        json.dumps(
            {
                "metric": "total_query_sec",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "queries": timings,
                "queries_isolated": isolated,
                "value_cold": total_cold,
                "queries_cold": cold,
            }
        )
    )
    # Compact summary line LAST: always shorter than any plausible tail
    # capture window, so the warm headline survives even when the full
    # detail line above gets truncated. Parsers that take the last
    # parseable JSON line get this; parsers that take the first line get
    # the full detail.
    print(
        json.dumps(
            {
                "metric": "total_query_sec",
                "value": total,
                "unit": "sec",
                "sf": sf_val,
                "value_cold": total_cold,
                "n_queries": len(timings),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
