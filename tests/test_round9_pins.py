"""Round-9 pins for the JDBC change-log writers.

The driver-collect writer must refuse a micro-batch over its cap (and
stay bounded while checking), and the distributed writer's salted
partitioning must bound a dominant tenant's per-task share while still
delivering every change row exactly once. The round's other pins — the
stores' delivery-time count() budgets and ``artifact_count`` raising on
a missing artifact — live with the shared store layer in
tests/test_batch_store.py.
"""

from __future__ import annotations

import pytest


def _changes_df(spark, rows):
    from ph_ee_nats_importer_rdbms_spark.streaming.pipeline import CHANGES_SCHEMA

    return spark.createDataFrame(rows, CHANGES_SCHEMA)


def test_driver_collect_writer_rejects_oversized_batches(spark, monkeypatch):
    """The NON-default driver-collect JDBC writer must refuse a
    micro-batch over its documented cap with a pointer to
    distributed=True — and the guard itself must stay bounded (it
    collects via limit(cap+1), never the whole batch)."""
    from ph_ee_nats_importer_rdbms_spark.sinks import jdbc

    monkeypatch.setattr(jdbc, "DRIVER_COLLECT_MAX_ROWS", 50)
    ran = []

    def executor(url, stmts):
        ran.append((url, len(stmts)))

    write = jdbc.changes_foreach_batch(
        lambda tenant: "db://x", executor, distributed=False
    )
    over = _changes_df(
        spark,
        [("variable", i, "tn01", '{"workflow_instance_key": %d}' % i) for i in range(51)],
    )
    with pytest.raises(ValueError, match="distributed=True"):
        write(over, 0)
    assert not ran, "guard must fire before any statement executes"

    under = _changes_df(
        spark,
        [("variable", i, "tn01", '{"workflow_instance_key": %d}' % i) for i in range(50)],
    )
    write(under, 1)
    assert ran, "under-cap batches still write"


def test_salted_writer_bounds_per_task_share_under_tenant_skew(spark):
    """90/10 tenant skew: plain repartition('tenant') would put 9000 rows
    in ONE task; the salted partitioning bounds the dominant tenant's
    largest task at ~1/WRITER_SALT of its rows, while keeping every
    (tenant, instance key) in exactly one task — the property that makes
    concurrent same-tenant writers touch disjoint upsert keys."""
    from pyspark.sql import functions as SF

    from ph_ee_nats_importer_rdbms_spark.sinks.jdbc import (
        WRITER_SALT,
        salted_by_tenant,
    )

    rows = [("transfer", i, "big", "{}") for i in range(9000)]
    rows += [
        ("transfer", 100_000 + i, f"tn{i % 9}", "{}") for i in range(1000)
    ]
    df = _changes_df(spark, rows).repartition(16)  # incoming layout: arbitrary
    # AQE would coalesce these KB-sized test partitions into one (below
    # the 64MB advisory size); at real micro-batch sizes the salted
    # partitions are advisory-sized and stay separate. Pin it off to
    # observe the partitioning itself.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        placed = salted_by_tenant(df, num_partitions=64).withColumn(
            "pid", SF.spark_partition_id()
        ).localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")

    per_task = {
        r["pid"]: r["n"]
        for r in placed.groupBy("pid").agg(SF.count(SF.lit(1)).alias("n")).collect()
    }
    # dominant tenant alone is 9000 rows; bounded share means no task
    # holds more than ~2x its fair split (hash unevenness allowance)
    assert max(per_task.values()) <= 2 * 9000 // WRITER_SALT, per_task

    # one task per (tenant, key): no key's rows straddle tasks
    straddlers = (
        placed.groupBy("tenant", "workflow_instance_key")
        .agg(SF.countDistinct("pid").alias("np"))
        .filter(SF.col("np") > 1)
        .count()
    )
    assert straddlers == 0


def test_salted_writer_delivers_every_row_exactly_once(spark, tmp_path):
    """E2E through the DISTRIBUTED writer under skew: every change row
    reaches its tenant's database exactly once despite the within-tenant
    split (concurrent tasks write disjoint keys)."""
    import sqlite3

    from ph_ee_nats_importer_rdbms_spark.sinks import jdbc
    from ph_ee_nats_importer_rdbms_spark.sinks.dbapi import SqliteExecutor

    dbs = {t: str(tmp_path / f"{t}.db") for t in ("big", "tn0", "tn1")}
    for path in dbs.values():
        jdbc.bootstrap_ddl(path, SqliteExecutor(), dialect="sqlite")
    resolver = lambda tenant: dbs.get(tenant or "")  # noqa: E731
    resolver.connections = dict(dbs)

    rows = [
        (
            "variable",
            i,
            "big" if i % 10 else f"tn{i % 2}",
            '{"workflow_key": 1, "workflow_instance_key": %d, '
            '"timestamp": %d, "name": "n%d", "value": "v"}' % (i, i, i),
        )
        for i in range(500)
    ]
    write = jdbc.changes_foreach_batch(
        resolver, SqliteExecutor(), distributed=True, dialect="sqlite"
    )
    write(_changes_df(spark, rows), 0)

    got = 0
    for path in dbs.values():
        with sqlite3.connect(path) as con:
            got += con.execute(
                "SELECT count(*) FROM ph_variables"
            ).fetchone()[0]
    assert got == 500
