"""The workloads. Each takes a ``Ctx`` and returns a ``Result``:
set-up seconds, the timed operations, failure accounting and per-layer
figures. Every input is generated in a child process before set-up starts;
peak memory is sampled from set-up to the end of the timed part; the oracle
checks are never timed nor sampled (query_sweep checks each entry between set-up and
the timed passes, ingest_stream checks the sqlite rows after its waves)."""

from __future__ import annotations

import dataclasses
import gc
import os
import sqlite3
import sys
import time

import pandas as pd

import gen
import measure as tr

_PACKAGE = "ph_ee_nats_importer_rdbms_spark."

#: Registry entries timed by query_sweep, run in this fixed (sorted) order:
#: the click-stream entries of ``plans.queries`` with small results and one
#: text-corpus entry of ``analytics.text``. Over a click-stream of
#: CLICKSTREAM_ROWS events the click-stream calls spend most of their time
#: executing on every core. (``rolling_spend`` and ``purchase_attribution``
#: return a row per purchase; collecting those for the oracle check took
#: longer than the run budget allows.)
SWEEP_ENTRIES = sorted(
    [
        "conversion_funnel",
        "events_anomaly",
        "events_daily",
        "token_counts",
        "user_sessions",
    ]
)

#: The operations-app reads over the imported Zeebe tables, timed only in
#: the traced run. A call takes about 0.1 s, mostly hand-offs between
#: driver, scheduler and executor threads, and on a shared host their warm
#: speed differed up to 2.7-fold between runs of the same code, so they
#: stay out of the gated figure.
OPS_ENTRIES = sorted(
    [
        "businesskey_lookup",
        "instance_lookup",
        "transfer_detail_join",
        "transfers_range_filter",
        "zeebe_batches",
        "zeebe_routing",
        "zeebe_tasks",
        "zeebe_transaction_requests",
        "zeebe_transfers",
        "zeebe_variables",
    ]
)

#: About 5.4k envelopes: a warm-up wave, then timed waves, each ~1.35k.
STREAM_ORDERS_FRAC = 0.0455
#: About 5.9k envelopes' worth of orders, imported once in set-up.
SWEEP_ORDERS_FRAC = 0.05
CLICKSTREAM_ROWS = 400_000
DOCUMENTS = 500
UNIFORM = (1 / 3, 1 / 3, 1 / 3)
SKEWED = (0.80, 0.15, 0.05)
TENANTS = ("tn0", "tn1", "tn2")


@dataclasses.dataclass
class Ctx:
    seed: int
    seconds: float
    sf: float  # TPC-H scale the order subset is cut from
    work: str
    tracer: tr.Tracer
    session_conf: dict
    rss: tr.PeakRss

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclasses.dataclass
class Result:
    setup_s: float
    op_s: list  # wall seconds of each timed operation
    work_per_s: float  # units of work (envelopes, warm calls) per second
    attempted: int
    failed: int
    shape: dict
    named: dict  # the workload's own figures: name -> (value, unit)
    samples: dict  # the raw timings behind them
    layers: dict = dataclasses.field(default_factory=dict)


def start_session(ctx: Ctx):
    from ph_ee_nats_importer_rdbms_spark.session import build_session

    return build_session(app_name="perfbench", extra_conf=ctx.session_conf)


def materialize(df) -> None:
    """Evaluate every output column (a bare count lets Catalyst prune)."""
    from pyspark.sql import functions as F

    df.agg(F.max(F.xxhash64(*[F.col(c) for c in df.columns]))).collect()


def _report(what: str, why) -> None:
    print(f"perfbench: {what} failed: {str(why)[:500]}", file=sys.stderr)


def _gc(spark) -> None:
    """A GC barrier in the JVM and in this process."""
    gc.collect()
    spark._jvm.System.gc()  # noqa: SLF001


def _generate(ctx: Ctx, **spec) -> dict:
    """Every input of the run, written by a child process; the shape."""
    spec.update(seed=ctx.seed, sf=ctx.sf, data=ctx.path("data"), oracle=ctx.path("oracle"))
    t = time.perf_counter()
    shape = gen.generate_in_child(spec)
    shape["generate_s"] = round(time.perf_counter() - t, 2)
    return shape


def _timed_loop(seconds: float, op, min_ops: int) -> list[float]:
    """Run ``op()`` until ``seconds`` have passed (at least ``min_ops``
    times); returns each call's wall seconds."""
    out: list[float] = []
    t_end = time.perf_counter() + seconds
    while len(out) < min_ops or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        op()
        out.append(time.perf_counter() - t0)
    return out


# -- oracle comparison of written tables ---------------------------------------


def _projection(con, rel: str, want: str) -> str:
    """SELECT list mapping relation ``rel`` onto the oracle table's
    columns and types: ``x_ms`` columns read epoch ms of a timestamp ``x``."""

    def columns(r: str) -> list[tuple[str, str]]:
        return [c[:2] for c in con.execute(f"DESCRIBE SELECT * FROM {r}").fetchall()]

    have = dict(columns(rel))
    cols = []
    for name, typ in columns(want):
        expr = name
        if name not in have and name.endswith("_ms") and name[:-3] in have:
            base = name[:-3]
            expr = f"epoch_ms({base})" if "TIMESTAMP" in have[base] else base
        cols.append(f"CAST({expr} AS {typ}) AS {name}")
    return ", ".join(cols)


def rows_differ(con, got: str, want: str) -> str | None:
    """None when relation ``got``, cast onto the oracle table ``want``'s
    columns, holds the same rows; else the reason. Rows compare as the
    registry's correctness gate compares them
    (``tools/check_oracles.normalize``)."""
    from tools.check_oracles import normalize

    g = con.execute(f"SELECT {_projection(con, got, want)} FROM {got}").fetchdf()
    w = con.execute(f"SELECT * FROM {want}").fetchdf()
    if len(g) != len(w):
        return f"row count {len(g)} != {len(w)}"
    neq = (normalize(g) != normalize(w)).any(axis=1)
    return f"{int(neq.sum())}/{len(g)} rows differ" if neq.any() else None


# -- import layers (traced query_sweep) -------------------------------------------


def _write_tables(tables: dict, out: str) -> None:
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(os.path.join(out, name))


def _import_traced(ctx: Ctx, spark, src: str, out: str, counts: dict) -> None:
    """The same public functions run_import_pipeline calls, in sequence,
    each materialized so its span holds its own work."""
    from ph_ee_nats_importer_rdbms_spark.operators import (
        entities,
        event_tables,
        lifecycle,
        parse_envelope,
    )
    from ph_ee_nats_importer_rdbms_spark.operators.classify import with_routing

    span = ctx.tracer.span
    with span("sources.read_parse"):
        flat = parse_envelope(spark.read.text(src)).localCheckpoint(eager=True)
    with span("operators.route"):
        routed = with_routing(flat).localCheckpoint(eager=True)
    with span("operators.dedup"):
        routed_vars = event_tables.variables_deduped(routed).localCheckpoint(eager=True)
    with span("operators.lifecycle"):
        proc = lifecycle.process_events(routed)
        links = lifecycle.parent_links(proc).localCheckpoint(eager=True)
        lc = lifecycle.lifecycle_table(proc, links).localCheckpoint(eager=True)
    with span("operators.entities"):
        built = {
            "transfers": entities.transfers_table(lc, routed_vars, links),
            "transaction_requests": entities.transaction_requests_table(
                lc, routed_vars, links
            ),
            "batches": entities.batches_table(lc, routed_vars, links),
        }
        built = {k: v.localCheckpoint(eager=True) for k, v in built.items()}
    tables = {
        "variables": event_tables.variables_table(routed),
        "tasks": event_tables.tasks_table(routed),
        **built,
    }
    with span("sinks.parquet_write"):
        _write_tables(tables, out)
    counts["operators.rows_in"] = flat.count()
    counts["operators.rows_routed"] = routed.count()


def import_layers(ctx: Ctx, spark, con) -> tuple[dict, int]:
    """One traced, sequential import of the corpus behind ``con``'s
    ``zeebe_events``, checked against the oracle: (per-layer figures,
    failures)."""
    src = ctx.path("envelopes")
    gen.write_envelopes(con, src, [1, 1, 1, 1])
    out = ctx.path("import-out")
    counts: dict = {}
    with ctx.tracer.span("import"):
        _import_traced(ctx, spark, src, out, counts)
    gen.oracle_tables(con)
    bad = 0
    for name in gen.ORACLES:
        reason = rows_differ(con, f"read_parquet('{out}/{name}/*.parquet')", f"want_{name}")
        if reason:
            _report(f"import {name} oracle check", reason)
            bad += 1
    counts["sinks.rows_out"] = sum(
        con.execute(f"SELECT count(*) FROM read_parquet('{out}/{n}/*.parquet')").fetchone()[0]
        for n in gen.ORACLES
    )
    (per_op,) = tr.per_op_layers(ctx.tracer.spans, "import")
    return {**{f"{k}_s": v for k, v in per_op.items()}, **counts}, int(bad > 0)


# -- ingest_stream ---------------------------------------------------------------


def ingest_stream(ctx: Ctx) -> Result:
    from ph_ee_nats_importer_rdbms_spark.sinks import dbapi, jdbc
    from ph_ee_nats_importer_rdbms_spark.streaming import pipeline as sp
    from ph_ee_nats_importer_rdbms_spark.streaming.replay import _publish_file
    from tests.nats_mini_server import MiniNatsServer

    # a warm-up wave as large as a timed wave (a quarter-size one left the
    # first timed wave up to half again slower than the third), then the
    # timed waves: one per ~7 s asked for, at least three
    timed_waves = max(3, round(ctx.seconds / 7))
    shape = _generate(
        ctx,
        orders_frac=STREAM_ORDERS_FRAC,
        tenants=SKEWED,
        envelopes=ctx.path("envelopes"),
        envelope_shares=[1] * (1 + timed_waves),
    )
    per_wave = shape["envelopes_per_file"]
    paths = [ctx.path("envelopes", f"envelopes-{i:03d}.jsonl") for i in range(len(per_wave))]

    ctx.rss.start()
    t0 = time.perf_counter()
    dbs = {t: ctx.path(f"{t}.db") for t in TENANTS}
    ex = dbapi.SqliteExecutor()
    for url in dbs.values():
        jdbc.bootstrap_ddl(url, ex, dialect="sqlite")
    resolve = jdbc.tenant_url_resolver(dbs)
    spark = start_session(ctx)
    listener = None
    if ctx.tracer.enabled:
        listener = tr.progress_listener()
        spark.streams.addListener(listener)

    op_s: list[float] = []
    publish_s = 0.0
    failed = 0
    mark = 0
    with MiniNatsServer() as server:
        nats = {"transport": "wire", "servers": server.url, "stream": server.js.stream}

        def wave(path: str, span: str) -> float:
            nonlocal publish_s
            with ctx.tracer.span("sources.nats.publish"):
                t = time.perf_counter()
                _publish_file(server.url, server.js.subject, path)
                publish_s += time.perf_counter() - t
            _gc(spark)
            t = time.perf_counter()
            with ctx.tracer.span(span), ctx.tracer.span("streaming.run_deployment"):
                sp.run_deployment(
                    spark,
                    ctx.path("deploy"),
                    resolve,
                    ex,
                    nats_options=nats,
                    distributed=True,
                    dialect="sqlite",
                )
            return time.perf_counter() - t

        wave(paths[0], "warmup")
        setup_s = time.perf_counter() - t0
        if listener is not None:
            listener.wait_idle()
            mark = len(listener.progress)
        publish_s = 0.0
        for path in paths[1:]:
            try:
                op_s.append(wave(path, "wave"))
            except Exception as e:  # noqa: BLE001 — counted, the run goes on
                _report("wave", e)
                failed += 1
        ctx.rss.stop()

    # per tenant: the sqlite rows against the oracle rows of that tenant
    t_check = time.perf_counter()
    con = gen.open_views(ctx.path("data"), ctx.path("oracle"))
    gen.oracle_tables(con)
    con.execute(
        "CREATE TABLE tenant_of AS SELECT o_orderkey, 'tn' || CAST(o_custkey % 3 AS VARCHAR)"
        " AS tenant FROM orders"
    )
    bad = 0
    for tenant, db in dbs.items():
        with sqlite3.connect(db) as lite:
            for name in gen.ORACLES:
                con.register("got_frame", pd.read_sql_query(f"SELECT * FROM ph_{name}", lite))
                con.execute(
                    f"CREATE OR REPLACE TABLE want_t AS SELECT w.* FROM want_{name} w"
                    " JOIN tenant_of t ON t.o_orderkey = w.workflow_instance_key // 10"
                    f" WHERE t.tenant = '{tenant}'"
                )
                reason = rows_differ(con, "got_frame", "want_t")
                con.unregister("got_frame")
                if reason:
                    _report(f"{tenant} ph_{name} oracle check", reason)
                    bad += 1
    if bad:  # the final state is wrong: every timed wave counts as failed
        failed = timed_waves
    check_s = time.perf_counter() - t_check
    layers: dict = {}
    if listener is not None:
        listener.wait_idle()
        layers.update(tr.hop_metrics(listener.progress[mark:], listener.started))
        consumed = sum(p["rows"] for p in listener.progress if p["hop"] == "resolve")
        layers["sources.nats.lag_end"] = sum(per_wave) - consumed
        layers["sources.nats.publish_s"] = publish_s
        spark.streams.removeListener(listener)
    env = sum(per_wave[1:])
    env_per_s = env / sum(op_s) if op_s else 0.0
    return Result(
        setup_s=setup_s,
        op_s=op_s,
        work_per_s=env_per_s,
        attempted=timed_waves,
        failed=failed,
        shape=shape,
        named={
            "stream_env_per_s": (env_per_s, "env/s"),
            "stream_wave_p50_s": (tr.median(op_s), "s"),
        },
        samples={"wave_s": op_s, "check_s": check_s},
        layers=layers,
    )


# -- query_sweep -----------------------------------------------------------------


def _entries(ctx: Ctx, spark, data: str, entries: list[str], seconds: float, span: str) -> dict:
    """A cold pass over ``entries``, their oracle check, then warm passes
    for ``seconds`` (at least three) with a GC barrier before each pass.
    Returns the cold and warm seconds per entry, the calls of the timed
    passes and the entries that failed."""
    from ph_ee_nats_importer_rdbms_spark.plans.queries import QUERIES
    from tools.check_oracles import compare_query

    failed: set[str] = set()
    cold: dict[str, float] = {}  # without GC barriers, as a user meets it
    for name in entries:
        t = time.perf_counter()
        try:
            materialize(QUERIES[name][0](spark, data))
        except Exception as e:  # noqa: BLE001 — counted by the caller
            _report(f"{name} (cold)", e)
            failed.add(name)
        cold[name] = time.perf_counter() - t
    cold_end = time.perf_counter()
    # the oracle check, untimed and not sampled for memory; it also runs
    # every entry a second time, so the JIT has compiled the planner's hot
    # paths before the timed passes
    with ctx.rss.paused():
        con = gen.open_views(data, ctx.path("oracle"))
        for name in entries:
            if name in failed:
                continue
            ok, msg = compare_query(spark, con, name, data)
            if not ok:
                _report(f"{name} oracle check", msg)
                failed.add(name)
        con.close()
    check_s = time.perf_counter() - cold_end

    calls: dict[str, list[float]] = {n: [] for n in entries}
    construct_ms: list[float] = []
    execute_ms: list[float] = []
    trace = ctx.tracer.span

    def one_pass() -> None:
        _gc(spark)
        for name in entries:
            t = time.perf_counter()
            try:
                with trace(span):
                    with trace("plans.construct"):
                        df = QUERIES[name][0](spark, data)
                    t1 = time.perf_counter()
                    with trace("plans.execute"):
                        materialize(df)
                t2 = time.perf_counter()
                construct_ms.append((t1 - t) * 1000)
                execute_ms.append((t2 - t1) * 1000)
                calls[name].append(t2 - t)
            except Exception as e:  # noqa: BLE001
                _report(name, e)
                failed.add(name)

    pass_s = _timed_loop(seconds, one_pass, min_ops=3)
    return {
        "cold_end": cold_end,
        "check_s": check_s,
        "cold": cold,
        "warm": {n: tr.median(v) for n, v in calls.items() if v},
        "calls": [s for v in calls.values() for s in v],
        "construct_ms": construct_ms,
        "execute_ms": execute_ms,
        "pass_s": pass_s,
        "failed": failed,
    }


def query_sweep(ctx: Ctx) -> Result:
    from ph_ee_nats_importer_rdbms_spark.plans.queries import QUERIES

    data = ctx.path("data")
    shape = _generate(
        ctx,
        orders_frac=SWEEP_ORDERS_FRAC,
        tenants=UNIFORM,
        clickstream=CLICKSTREAM_ROWS,
        documents=DOCUMENTS,
    )

    ctx.rss.start()
    t0 = time.perf_counter()
    spark = start_session(ctx)
    run = _entries(ctx, spark, data, SWEEP_ENTRIES, ctx.seconds, "call")
    setup_s = run["cold_end"] - t0
    ctx.rss.stop()
    passes = len(run["pass_s"])
    attempted = passes * len(SWEEP_ENTRIES)
    # every pass calls every entry once: a failed entry fails all its calls
    failed = passes * len(run["failed"])

    sweep_warm_s = sum(run["warm"].values())
    named = {
        "sweep_warm_s": (sweep_warm_s, "s"),
        "sweep_cold_s": (sum(run["cold"].values()), "s"),
        "query_p50_ms": (tr.median(run["calls"]) * 1000, "ms"),
        "calls": (len(run["calls"]), "count"),
    }
    tail = tr.tail_percentile([s * 1000 for s in run["calls"]])
    if tail:  # the highest percentile with ten calls beyond it
        named[f"query_p{tail[0]:g}_ms"] = (tail[1], "ms")
    samples = {
        "pass_s": run["pass_s"],
        "check_s": run["check_s"],
        "entry_warm_ms": {n: round(v * 1000, 1) for n, v in run["warm"].items()},
        "entry_cold_ms": {n: round(v * 1000, 1) for n, v in run["cold"].items()},
    }
    layers = {
        "plans.construct_ms_p50": tr.median(run["construct_ms"]),
        "plans.execute_ms_p50": tr.median(run["execute_ms"]),
    }
    cold, warm = dict(run["cold"]), dict(run["warm"])
    if ctx.tracer.enabled:
        # the operations-app reads: their cold pass imports the Zeebe
        # tables, and they join the per-module figures below
        ops = _entries(ctx, spark, data, OPS_ENTRIES, 0, "ops_call")
        cold.update(ops["cold"])
        warm.update(ops["warm"])
        attempted += len(ops["pass_s"]) * len(OPS_ENTRIES)
        failed += len(ops["pass_s"]) * len(ops["failed"])
        samples["ops_warm_ms"] = {n: round(v * 1000, 1) for n, v in ops["warm"].items()}
        samples["ops_cold_ms"] = {n: round(v * 1000, 1) for n, v in ops["cold"].items()}
        # the import layers, timed one public function at a time on the
        # sweep's corpus (the registry's cold pass runs them only as a whole)
        con = gen.open_views(data, ctx.path("oracle"))
        import_layers_, import_failed = import_layers(ctx, spark, con)
        layers.update(import_layers_)
        failed += import_failed
        attempted += 1
    module = {n: QUERIES[n][0].__module__.removeprefix(_PACKAGE) for n in cold}
    for mod in sorted(set(module.values())):
        layers[f"{mod}.warm_s"] = sum(v for n, v in warm.items() if module[n] == mod)
        layers[f"{mod}.cold_s"] = sum(v for n, v in cold.items() if module[n] == mod)
    return Result(
        setup_s=setup_s,
        op_s=run["calls"],
        work_per_s=len(run["warm"]) / sweep_warm_s if sweep_warm_s else 0.0,
        attempted=attempted,
        failed=failed,
        shape=shape,
        named=named,
        samples=samples,
        layers=layers,
    )


WORKLOADS = {
    "ingest_stream": ingest_stream,
    "query_sweep": query_sweep,
}
