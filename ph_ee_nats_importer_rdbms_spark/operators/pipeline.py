"""End-to-end batch import pipeline: flat Zeebe events -> the five output
tables (SURVEY §3 restated declaratively).

    raw/flat events
      └─ with_routing      F1-F6 + C5         (classify.py)
          ├─ variables_table   D1             (event_tables.py)
          ├─ tasks_table       D2             (event_tables.py)
          └─ process_events ─ parent_links C4 (lifecycle.py)
              └─ lifecycle_table  C2/C3/D3/D4
                  ├─ transfers_table            (entities.py)
                  ├─ transaction_requests_table
                  └─ batches_table

Every stage is a DataFrame transformation; the only shuffles are the
per-instance aggregations (all on the same key) and the two small dimension
joins (registry — broadcast; parent links — key-aligned with the aggs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ph_ee_nats_importer_rdbms_spark.operators import entities, event_tables, lifecycle
from ph_ee_nats_importer_rdbms_spark.operators.classify import with_routing


def run_import_pipeline(
    events: DataFrame,
    registry: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """``events`` is a flat event relation (schemas.FLAT_EVENT_SCHEMA shape,
    e.g. from classify.parse_envelope). Returns the five output tables.

    The two relations every output re-reads (the routed event stream and
    the D1-deduped variable stream) are staged via an eager
    ``localCheckpoint``: this both avoids re-executing the source scan and
    C5 resolution per output subtree AND truncates the logical plan,
    keeping Catalyst analysis of the ~8 downstream subtrees O(small)
    instead of O(full source plan each). At cluster scale the equivalent is
    staging to a table once (the streaming path does exactly that with its
    multi-hop parquet layers); use ``reliableCheckpoint``/Delta there if
    executor loss matters."""
    routed = with_routing(events, registry).localCheckpoint(eager=True)
    return run_import_pipeline_routed(routed)


def run_import_pipeline_routed(routed: DataFrame) -> dict[str, DataFrame]:
    """The pipeline from an already-routed (and ideally staged) event
    relation — lets callers that keep their own staged copy share it.

    The two independent staging chains — the D1 variable dedup and the
    lifecycle chain (parent links -> lifecycle agg) — run as CONCURRENT
    Spark jobs (thread-submitted; the scheduler interleaves their
    stages), then the three entity assemblies (each staging its own
    known-variable relation) run concurrently too. Serially these five
    materializations leave the cluster idle during each job's driver-side
    planning and shuffle tails; overlapping them fills those gaps — the
    standard multi-job pattern on a shared cluster."""
    proc = lifecycle.process_events(routed)

    from concurrent.futures import ThreadPoolExecutor

    def _stage_vars() -> DataFrame:
        # D1-deduped variable stream — the reference drops duplicates before
        # the entity mappers ever see them (RecordParser.java:137-145)
        return event_tables.variables_deduped(routed).localCheckpoint(eager=True)

    def _stage_lifecycle() -> tuple[DataFrame, DataFrame]:
        # All three entity tables join against links and lc; staging the
        # (small, per-instance-grain) relations keeps the lifecycle
        # aggregation from re-executing once per entity output.
        links = lifecycle.parent_links(proc).localCheckpoint(eager=True)
        lc = lifecycle.lifecycle_table(proc, links).localCheckpoint(eager=True)
        return links, lc

    with ThreadPoolExecutor(2) as ex:
        f_vars = ex.submit(_stage_vars)
        f_lc = ex.submit(_stage_lifecycle)
        routed_vars = f_vars.result()
        links, lc = f_lc.result()

    builders = {
        "transfers": lambda: entities.transfers_table(lc, routed_vars, links),
        "transaction_requests": lambda: entities.transaction_requests_table(
            lc, routed_vars, links
        ),
        "batches": lambda: entities.batches_table(lc, routed_vars, links),
    }
    with ThreadPoolExecutor(len(builders)) as ex:
        futures = {name: ex.submit(fn) for name, fn in builders.items()}
        built = {name: f.result() for name, f in futures.items()}

    return {
        "variables": event_tables.variables_table(routed),
        "tasks": event_tables.tasks_table(routed),
        **built,
    }
