"""Real-database integration for the JDBC-shaped sink: sqlite through the
picklable DBAPI executor (sinks/dbapi.py), driven end-to-end by
run_deployment in DISTRIBUTED mode — statements execute inside
foreachPartition on the executors, the 100 TB fan-out path.

This closes the gap the recording-executor tests leave: the MERGE
actually runs against a database engine, so insert-vs-update semantics
(AbstractPersistableCustom.java:34-52), column/param alignment, and
checkpointed-restart idempotency are verified on real rows.
"""

from __future__ import annotations

import json
import os

import pytest

from tests.test_streaming import _corpus, _raw_json


TENANTS = ("tn01", "tn02", "tn03")


def _setup(tmp_path):
    from ph_ee_nats_importer_rdbms_spark.sinks import dbapi, jdbc

    dbdir = tmp_path / "dbs"
    dbdir.mkdir()
    conns = {t: str(dbdir / f"{t}.db") for t in TENANTS}
    ex = dbapi.SqliteExecutor()
    for url in conns.values():
        jdbc.bootstrap_ddl(url, ex, dialect="sqlite")
    return conns, jdbc.tenant_url_resolver(conns), ex


def test_run_deployment_distributed_sqlite_upserts_real_rows(spark, tmp_path):
    from ph_ee_nats_importer_rdbms_spark.streaming import pipeline as sp

    corpus = _corpus()
    conns, resolve, ex = _setup(tmp_path)
    src = tmp_path / "sq_events"
    src.mkdir()
    work = str(tmp_path / "sq_work")

    def deploy():
        return sp.run_deployment(
            spark,
            work,
            resolve,
            ex,
            source_dir=str(src),
            distributed=True,
            dialect="sqlite",
        )

    # run 1: transfer 100 starts (child amount not yet complete) -> the
    # MERGE must INSERT a fresh IN_PROGRESS row into tn01's database
    (src / "drop_0.jsonl").write_text(
        "\n".join(_raw_json(e) for e in corpus[:5]) + "\n"
    )
    deploy()
    rows = ex.fetchall(
        conns["tn01"], "SELECT status, transaction_id FROM ph_transfers"
    )
    assert rows == [("IN_PROGRESS", "tx-A")]

    # run 2 (checkpointed restart): completion + batch + transaction
    # request arrive -> the same row must be UPDATED in place (ON CONFLICT
    # DO UPDATE), and the other tenants' databases populated
    (src / "drop_1.jsonl").write_text(
        "\n".join(_raw_json(e) for e in corpus[5:]) + "\n"
    )
    paths = deploy()

    t = ex.fetchall(
        conns["tn01"],
        "SELECT workflow_instance_key, transaction_id, status, amount,"
        " started_at, completed_at FROM ph_transfers",
    )
    assert len(t) == 1
    wik, txid, status, amount, started, completed = t[0]
    assert (wik, txid, status) == (100, "tx-A", "COMPLETED")
    assert float(amount) == 77.70
    assert (started, completed) == (1_000, 4_000)  # child completion re-keyed (C4/D4)

    b = ex.fetchall(conns["tn02"], "SELECT batch_id, request_file FROM ph_batches")
    assert b == [("B-9", "f.csv")]
    tr = ex.fetchall(
        conns["tn03"],
        "SELECT transaction_id, state FROM ph_transaction_requests",
    )
    assert tr == [("tr-1", "ACCEPTED")]

    # DB rows == the change-log fold (materialize_tables), i.e. the sink
    # applied exactly the snapshots the pipeline produced
    want = sp.materialize_tables(spark, paths["changes"])
    w = json.loads(want["transfers"].collect()[0]["payload"])
    assert (w["status"], w["transaction_id"]) == (status, txid)
    assert float(w["amount"]) == float(amount)
    assert (w["started_at"], w["completed_at"]) == (started, completed)

    # append-only logs: exactly-once across the restart — DB contents equal
    # the deduped change log, no replays
    want_vars = {
        (r["workflow_instance_key"], r["name"], r["value"])
        for r in want["variables"].collect()
    }
    got_vars = {
        row
        for url in conns.values()
        for row in ex.fetchall(
            url, "SELECT workflow_instance_key, name, value FROM ph_variables"
        )
    }
    assert got_vars == want_vars
    n_task_rows = sum(
        len(ex.fetchall(url, "SELECT id FROM ph_tasks")) for url in conns.values()
    )
    assert n_task_rows == want["tasks"].count()

    # run 3: nothing new -> checkpoints replay nothing into the DBs
    before = ex.fetchall(conns["tn01"], "SELECT count(*) FROM ph_variables")
    deploy()
    after = ex.fetchall(conns["tn01"], "SELECT count(*) FROM ph_variables")
    assert before == after


def test_sink_failure_after_change_log_write_recovers(spark, tmp_path, monkeypatch):
    """Hop B raises inside its foreachBatch after the epoch's change rows
    are written and before the MERGE. The restarted drain replays the
    epoch: the sqlite tables equal a clean run's, and changes/ holds each
    epoch once."""
    from ph_ee_nats_importer_rdbms_spark.sinks import jdbc
    from ph_ee_nats_importer_rdbms_spark.streaming import pipeline as sp

    corpus = _corpus()
    columns = {  # every column but the autoincrement ids
        "ph_transfers": "*",
        "ph_transaction_requests": "*",
        "ph_batches": "*",
        "ph_tasks": "workflow_key, workflow_instance_key, timestamp, intent,"
        " record_type, type, element_id",
        "ph_variables": "workflow_key, workflow_instance_key, timestamp, name,"
        " value",
    }

    def run(name: str, fail_first: bool) -> tuple[dict, str]:
        root = tmp_path / name
        root.mkdir()
        conns, resolve, ex = _setup(root)
        src = root / "events"
        src.mkdir()
        work = str(root / "work")

        def deploy():
            return sp.run_deployment(
                spark, work, resolve, ex, source_dir=str(src),
                distributed=True, dialect="sqlite",
            )

        (src / "drop_0.jsonl").write_text(
            "\n".join(_raw_json(e) for e in corpus[:5]) + "\n"
        )
        if fail_first:
            def down(*a, **k):
                def write(batch_df, epoch_id):
                    raise RuntimeError("MERGE down")
                return write

            monkeypatch.setattr(jdbc, "changes_foreach_batch", down)
            with pytest.raises(Exception, match="MERGE down"):
                deploy()
            monkeypatch.undo()
            assert os.listdir(os.path.join(work, "changes", "_tmp")) == []
            assert ex.fetchall(conns["tn01"], "SELECT * FROM ph_transfers") == []
        deploy()
        (src / "drop_1.jsonl").write_text(
            "\n".join(_raw_json(e) for e in corpus[5:]) + "\n"
        )
        paths = deploy()
        rows = {
            (t, table): sorted(ex.fetchall(url, f"SELECT {cols} FROM {table}"), key=repr)
            for t, url in conns.items()
            for table, cols in columns.items()
        }
        return rows, paths["changes"]

    got, changes = run("faulty", fail_first=True)
    want, clean_changes = run("clean", fail_first=False)
    assert got == want
    assert want[("tn01", "ph_transfers")], "the corpus imports transfers"
    batches = sorted(n for n in os.listdir(changes) if not n.startswith("_"))
    assert batches == sorted(
        n for n in os.listdir(clean_changes) if not n.startswith("_")
    ) == ["batch-00000000000000000000", "batch-00000000000000000001"]
    log = sp.materialize_tables(spark, changes)
    for name in ("variables", "tasks"):
        rows = log[name].collect()
        assert rows and len(rows) == len(set(map(tuple, rows))), name


def test_sqlite_upsert_sql_dialect():
    from ph_ee_nats_importer_rdbms_spark.sinks.jdbc import upsert_sql

    sql = upsert_sql("ph_transfers", dialect="sqlite")
    assert "ON CONFLICT(workflow_instance_key) DO UPDATE SET" in sql
    assert "excluded.status" in sql
    append = upsert_sql("ph_variables", dialect="sqlite")
    assert "ON CONFLICT" not in append


def test_sqlite_executor_is_picklable():
    import pickle

    from ph_ee_nats_importer_rdbms_spark.sinks.dbapi import SqliteExecutor

    ex = pickle.loads(pickle.dumps(SqliteExecutor()))
    assert callable(ex)
