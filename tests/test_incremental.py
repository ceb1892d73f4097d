"""Incremental day-partitioned store refresh (plans/incremental.py).

Gate for VERDICT round-2 item 5: touch one day's events -> the refresh
rewrites ONLY that day's event partition and only the output partitions
holding affected instances, and the result is row-identical to a full
rebuild on the post-refresh log — including the two cross-partition
couplings (C4 parent re-key groups spanning days, C5 definition resolution
feeding an untouched day's gap row).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ph_ee_nats_importer_rdbms_spark.plans import incremental
from tests.zeebe_fixtures import (
    job_event,
    process_event,
    to_df,
    variable_event,
)

DAY1 = 1709251200000  # 2024-03-01 UTC
DAY2 = DAY1 + 86400000
DAY3 = DAY2 + 86400000


pytestmark = pytest.mark.slow  # heavy Spark gate; default selection skips (pytest.ini), round-close runs all


def _corpus() -> list[dict]:
    rows = []
    # instance 100: fully on day1
    rows += [
        process_event(100, "ELEMENT_ACTIVATING", DAY1 + 1000),
        variable_event(100, "amount", '"10"', DAY1 + 2000),
        job_event(100, "quote", "quoteFlow", "CREATED", DAY1 + 2500),
        process_event(100, "ELEMENT_COMPLETED", DAY1 + 3000),
    ]
    # instance 200: fully on day2 (the day the delta edits)
    rows += [
        process_event(200, "ELEMENT_ACTIVATING", DAY2 + 1000),
        variable_event(200, "amount", '"20"', DAY2 + 2000),
        variable_event(200, "state", '"OPEN"', DAY2 + 2100),
        process_event(200, "ELEMENT_COMPLETED", DAY2 + 3000),
    ]
    # C4 group spanning days: parent 300 starts day1, child 310 activates
    # on day2 and its variable lands in the parent's transfer row
    rows += [
        process_event(300, "ELEMENT_ACTIVATING", DAY1 + 5000),
        process_event(
            310, "ELEMENT_ACTIVATING", DAY2 + 5000, parent=300, definition=5002
        ),
        variable_event(310, "amount", '"30"', DAY2 + 5100, definition=5002),
        process_event(310, "ELEMENT_COMPLETED", DAY2 + 6000, parent=300, definition=5002),
    ]
    # C5 coupling: instance 400's day1 row has an EMPTY bpmn and def 7001;
    # the resolving non-empty row lives in instance 410 on day3
    rows += [
        variable_event(400, "amount", '"40"', DAY1 + 7000, bpmn="", definition=7001),
        process_event(400, "ELEMENT_ACTIVATING", DAY1 + 6900, bpmn="", definition=7001),
        process_event(
            410, "ELEMENT_ACTIVATING", DAY3 + 1000, bpmn="PayeeQuoteTransfer-tn02",
            definition=7001,
        ),
    ]
    # instance 500: day2-only instance the delta will DELETE entirely
    rows += [
        process_event(500, "ELEMENT_ACTIVATING", DAY2 + 8000),
        variable_event(500, "amount", '"50"', DAY2 + 8100),
    ]
    return _det_positions(rows)


def _det_positions(rows: list[dict]) -> list[dict]:
    """The fixture module's auto-positions come from a process-global
    counter; re-generating a corpus for the rebuild-parity comparison must
    yield byte-identical events, so pin position to the (unique) timestamp."""
    for r in rows:
        r["position"] = r["timestamp"] % 10**9
    return rows


def _day2_replacement() -> list[dict]:
    """New full content of day2: instance 200's amount edited, instance 500
    gone, child 310 unchanged."""
    rows = [
        process_event(200, "ELEMENT_ACTIVATING", DAY2 + 1000),
        variable_event(200, "amount", '"21"', DAY2 + 2000),
        variable_event(200, "state", '"OPEN"', DAY2 + 2100),
        process_event(200, "ELEMENT_COMPLETED", DAY2 + 3000),
        process_event(
            310, "ELEMENT_ACTIVATING", DAY2 + 5000, parent=300, definition=5002
        ),
        variable_event(310, "amount", '"30"', DAY2 + 5100, definition=5002),
        process_event(310, "ELEMENT_COMPLETED", DAY2 + 6000, parent=300, definition=5002),
    ]
    return _det_positions(rows)


def _snapshot(path: str) -> dict[str, tuple]:
    """(name -> (size, mtime_ns)) for every data file under path."""
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(dirpath, f)
            st = os.stat(full)
            out[os.path.relpath(full, path)] = (st.st_size, st.st_mtime_ns)
    return out


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def utc_session(spark):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    yield spark
    spark.conf.set("spark.sql.session.timeZone", "UTC" if old is None else old)


def test_refresh_one_day_rewrites_only_affected_partitions(
    utc_session, tmp_path
):
    spark = utc_session
    root = str(tmp_path / "store")
    incremental.build_store(spark, to_df(spark, _corpus()), root)

    events_dir = os.path.join(root, "flat_events")
    before = _snapshot(events_dir)
    table_before = {
        n: _snapshot(os.path.join(root, "tables", n)) for n in incremental.TABLES
    }

    stats = incremental.refresh_days(
        spark, root, to_df(spark, _day2_replacement()), changed_days=["2024-03-02"]
    )
    assert stats["changed_days"] == ["2024-03-02"]

    # event log: day1/day3 partitions byte-stable, day2 rewritten
    after = _snapshot(events_dir)
    for rel, sig in before.items():
        if "event_day=2024-03-02" in rel:
            continue
        assert after.get(rel) == sig, f"untouched event file rewritten: {rel}"
    assert any("event_day=2024-03-02" in rel for rel in after)

    # output tables: partitions holding only UNaffected instances (100, 400,
    # 410 — all day1/day3-anchored, outside the affected closure) untouched
    for name in incremental.TABLES:
        t_after = _snapshot(os.path.join(root, "tables", name))
        for rel, sig in table_before[name].items():
            if "part_day=2024-03-01" in rel or "part_day=2024-03-03" in rel:
                # day1 partitions of the entity tables hold group 300 (whose
                # child changed days) -> those MAY be rewritten; raw-keyed
                # variables/tasks day1 partitions hold 100/300/400 only and
                # 300's own raw rows are in the closure too, so only assert
                # stability for partitions with no affected keys: day3.
                if "part_day=2024-03-03" in rel:
                    assert t_after.get(rel) == sig, f"{name}/{rel} rewritten"

    # instance 200's edit landed, instance 500 vanished, 310 still merged
    variables = incremental.read_table(spark, root, "variables")
    assert _rows(
        variables.filter(F.col("workflow_instance_key") == 200).select("name", "value")
    ) == [("amount", '"21"'), ("state", '"OPEN"')]
    assert variables.filter(F.col("workflow_instance_key") == 500).count() == 0
    transfers = incremental.read_table(spark, root, "transfers")
    assert transfers.filter(F.col("workflow_instance_key") == 500).count() == 0


def test_refresh_matches_full_rebuild(utc_session, tmp_path):
    spark = utc_session
    root = str(tmp_path / "inc")
    incremental.build_store(spark, to_df(spark, _corpus()), root)
    incremental.refresh_days(
        spark, root, to_df(spark, _day2_replacement()), changed_days=["2024-03-02"]
    )

    # reference: a from-scratch build on the post-refresh log
    full_root = str(tmp_path / "full")
    post = [r for r in _corpus() if not (DAY2 <= (r["timestamp"] or 0) < DAY3)]
    post += _day2_replacement()
    incremental.build_store(spark, to_df(spark, post), full_root)

    for name in incremental.TABLES:
        got = _rows(incremental.read_table(spark, root, name))
        want = _rows(incremental.read_table(spark, full_root, name))
        assert got == want, f"{name} diverged from full rebuild"
    assert _rows(incremental.read_events(spark, root)) == _rows(
        incremental.read_events(spark, full_root)
    )


def test_refresh_c5_closure_rebuilds_untouched_days_gap_rows(
    utc_session, tmp_path
):
    """Editing day3's FIRST carrier of definition 7001 re-routes instance
    400 (whose gap rows live on day1) — the C5 dimension diff must pull
    400 into the rebuild. A later carrier that keeps the old id changes
    nothing: the first carrier wins."""
    spark = utc_session
    root = str(tmp_path / "inc")
    incremental.build_store(spark, to_df(spark, _corpus()), root)

    def dim_7001() -> list:
        return [
            r["resolved_bpmn"]
            for r in spark.read.parquet(os.path.join(root, "c5_dim"))
            .filter(F.col("process_definition_key") == 7001)
            .collect()
        ]

    def transfer_keys() -> set:
        t = incremental.read_table(spark, root, "transfers")
        return {r["workflow_instance_key"] for r in t.collect()}

    # before: 400 resolved through def 7001 -> PayeeQuoteTransfer-tn02
    v = incremental.read_table(spark, root, "variables")
    assert v.filter(F.col("workflow_instance_key") == 400).count() == 1
    assert dim_7001() == ["PayeeQuoteTransfer-tn02"]
    assert 400 in transfer_keys()

    day3_new = _det_positions(
        [
            process_event(
                410, "ELEMENT_ACTIVATING", DAY3 + 1000, bpmn="OtherFlow-tn09",
                definition=7001,
            ),
            process_event(
                411, "ELEMENT_ACTIVATING", DAY3 + 2000,
                bpmn="PayeeQuoteTransfer-tn02", definition=7001,
            ),
        ]
    )
    incremental.refresh_days(
        spark, root, to_df(spark, day3_new), changed_days=["2024-03-03"]
    )

    # after: the stored dimension follows the edited first carrier, and
    # 400 now routes to the unregistered OtherFlow (no transfer row)
    assert dim_7001() == ["OtherFlow-tn09"]
    assert 400 not in transfer_keys() and 411 in transfer_keys()

    full_root = str(tmp_path / "full")
    post = [r for r in _corpus() if (r["timestamp"] or 0) < DAY3] + day3_new
    incremental.build_store(spark, to_df(spark, post), full_root)
    for name in incremental.TABLES:
        got = _rows(incremental.read_table(spark, root, name))
        want = _rows(incremental.read_table(spark, full_root, name))
        assert got == want, f"{name} diverged after C5-coupled refresh"


def test_month_granularity_refresh_matches_full_rebuild(utc_session, tmp_path):
    """The store's partition granularity is a build-time choice persisted
    in meta.json; a month-grain store refreshes by month with the same
    rebuild parity (the granularity a lake picks when days are too small
    to be worth a partition)."""
    spark = utc_session
    root = str(tmp_path / "inc")
    incremental.build_store(
        spark, to_df(spark, _corpus()), root, granularity="month"
    )
    assert os.path.exists(
        os.path.join(root, "flat_events", "event_day=2024-03")
    )
    # the whole corpus is one month, so the delta is the full new month
    post = [r for r in _corpus() if not (DAY2 <= (r["timestamp"] or 0) < DAY3)]
    post += _day2_replacement()
    incremental.refresh_days(
        spark, root, to_df(spark, post), changed_days=["2024-03"]
    )

    full_root = str(tmp_path / "full")
    incremental.build_store(
        spark, to_df(spark, post), full_root, granularity="month"
    )
    for name in incremental.TABLES:
        got = _rows(incremental.read_table(spark, root, name))
        want = _rows(incremental.read_table(spark, full_root, name))
        assert got == want, f"{name} diverged at month granularity"


def test_refresh_day_deleted_entirely(utc_session, tmp_path):
    spark = utc_session
    root = str(tmp_path / "inc")
    incremental.build_store(spark, to_df(spark, _corpus()), root)
    empty = to_df(spark, [])
    incremental.refresh_days(spark, root, empty, changed_days=["2024-03-02"])

    assert not os.path.exists(
        os.path.join(root, "flat_events", "event_day=2024-03-02")
    )
    full_root = str(tmp_path / "full")
    post = [r for r in _corpus() if not (DAY2 <= (r["timestamp"] or 0) < DAY3)]
    incremental.build_store(spark, to_df(spark, post), full_root)
    for name in incremental.TABLES:
        got = _rows(incremental.read_table(spark, root, name))
        want = _rows(incremental.read_table(spark, full_root, name))
        assert got == want, f"{name} diverged after whole-day deletion"


# ---------------------------------------------------------------------------
# Property-based rebuild parity
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_DAYS = [DAY1, DAY2, DAY3]
_DAY_STRS = ["2024-03-01", "2024-03-02", "2024-03-03"]


@st.composite
def _random_corpus_and_edit(draw):
    """A multi-day corpus exercising every cross-partition coupling (C4
    children on different days than their parents, C5 gap rows whose
    resolver lives on another day, colliding variable timestamps), plus a
    random REPLACEMENT of one day (drop a subset, rewrite values, maybe
    add an event)."""
    events: list[dict] = []
    pos = [0]

    def nxt() -> int:
        pos[0] += 100
        return pos[0]

    n_instances = draw(st.integers(min_value=2, max_value=4))
    for i in range(n_instances):
        inst = 1000 + i * 10
        gap = draw(st.booleans())
        bpmn = "" if gap else "PayeeQuoteTransfer-tn01"
        definition = 7001 if gap else 5001
        d_act = draw(st.sampled_from(_DAYS))
        events.append(
            process_event(
                inst, "ELEMENT_ACTIVATING", d_act + draw(st.integers(1, 5000)),
                bpmn=bpmn, definition=definition, position=nxt(),
            )
        )
        if draw(st.booleans()):
            events.append(
                process_event(
                    inst, "ELEMENT_COMPLETED",
                    draw(st.sampled_from(_DAYS)) + draw(st.integers(5001, 9000)),
                    bpmn=bpmn, definition=definition, position=nxt(),
                )
            )
        if draw(st.booleans()):  # C4 child, possibly on another day
            child = inst + 1
            d_child = draw(st.sampled_from(_DAYS))
            events.append(
                process_event(
                    child, "ELEMENT_ACTIVATING", d_child + draw(st.integers(1, 9000)),
                    parent=inst, bpmn="PayeeQuoteTransfer-tn01", definition=5001,
                    position=nxt(),
                )
            )
            events.append(
                variable_event(
                    child, "transactionId", '"child-tx"',
                    d_child + draw(st.integers(1, 9000)),
                    bpmn="PayeeQuoteTransfer-tn01", definition=5001, position=nxt(),
                )
            )
        for _ in range(draw(st.integers(0, 3))):
            events.append(
                variable_event(
                    inst, draw(st.sampled_from(["amount", "state", "note"])),
                    f'"{draw(st.integers(0, 9))}"',
                    draw(st.sampled_from(_DAYS)) + draw(st.integers(1, 4)),
                    bpmn=bpmn, definition=definition, position=nxt(),
                )
            )
    if draw(st.booleans()):  # C5 resolver row, on a random day
        events.append(
            process_event(
                2000, "ELEMENT_ACTIVATING",
                draw(st.sampled_from(_DAYS)) + draw(st.integers(1, 9000)),
                bpmn=draw(st.sampled_from(
                    ["PayeeQuoteTransfer-tn02", "OtherFlow-tn09"]
                )),
                definition=7001, position=nxt(),
            )
        )

    day_idx = draw(st.integers(0, 2))
    lo, hi = _DAYS[day_idx], _DAYS[day_idx] + 86400000
    day_events = [e for e in events if lo <= e["timestamp"] < hi]
    keep_mod = draw(st.integers(2, 4))
    replacement = []
    for j, e in enumerate(day_events):
        if j % keep_mod == 0:
            continue  # dropped from the day
        e2 = dict(e)
        if e2["value_type"] == "VARIABLE" and draw(st.booleans()):
            e2["value"] = f'"{draw(st.integers(10, 19))}"'
        replacement.append(e2)
    return events, replacement, _DAY_STRS[day_idx]


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=_random_corpus_and_edit())
def test_random_edit_refresh_matches_full_rebuild(
    data, utc_session, tmp_path_factory
):
    spark = utc_session
    events, replacement, day = data
    base = tmp_path_factory.mktemp("incprop")
    root, full_root = str(base / "inc"), str(base / "full")

    incremental.build_store(spark, to_df(spark, events), root)
    incremental.refresh_days(
        spark, root, to_df(spark, replacement), changed_days=[day]
    )

    lo = DAY1 + 86400000 * _DAY_STRS.index(day)
    post = [e for e in events if not (lo <= e["timestamp"] < lo + 86400000)]
    post += replacement
    incremental.build_store(spark, to_df(spark, post), full_root)

    for name in incremental.TABLES:
        got = _rows(incremental.read_table(spark, root, name))
        want = _rows(incremental.read_table(spark, full_root, name))
        assert got == want, f"{name} diverged under randomized edit"


def test_crashed_refresh_is_detected_and_resumable(utc_session, tmp_path, monkeypatch):
    """ADVICE r3: a refresh that dies mid-mutation must be DETECTED (reads
    refuse the half-refreshed store) and ROLLED FORWARD (resume_refresh
    re-applies from the WAL), ending row-identical to an uninterrupted
    refresh / full rebuild. The crash is injected mid-table-merge — after
    the event log swapped but before all outputs merged, the exact window
    the round-3 advice called out."""
    spark = utc_session
    root = str(tmp_path / "store")
    incremental.build_store(spark, to_df(spark, _corpus()), root)

    calls = {"n": 0}
    real = incremental._overwrite_day_partitions

    def dying(df, path, days, part_col):
        calls["n"] += 1
        if calls["n"] == 4:  # events, gaps, table1, then die on table2
            raise RuntimeError("injected crash")
        return real(df, path, days, part_col)

    monkeypatch.setattr(incremental, "_overwrite_day_partitions", dying)
    with pytest.raises(RuntimeError, match="injected crash"):
        incremental.refresh_days(
            spark, root, to_df(spark, _day2_replacement()),
            changed_days=["2024-03-02"],
        )
    monkeypatch.setattr(incremental, "_overwrite_day_partitions", real)

    # detection: the pending marker blocks every read surface
    with pytest.raises(RuntimeError, match="interrupted refresh"):
        incremental.read_table(spark, root, "variables")
    with pytest.raises(RuntimeError, match="interrupted refresh"):
        incremental.read_events(spark, root)
    # and a new refresh refuses to stack on the broken state
    with pytest.raises(RuntimeError, match="interrupted refresh"):
        incremental.refresh_days(
            spark, root, to_df(spark, _day2_replacement()),
            changed_days=["2024-03-02"],
        )

    # roll-forward: resume from the WAL, then verify full-rebuild parity
    stats = incremental.resume_refresh(spark, root)
    assert stats is not None and stats["changed_days"] == ["2024-03-02"]
    assert incremental.resume_refresh(spark, root) is None  # nothing pending

    full_root = str(tmp_path / "full")
    post = [r for r in _corpus() if not (DAY2 <= (r["timestamp"] or 0) < DAY3)]
    post += _day2_replacement()
    incremental.build_store(spark, to_df(spark, post), full_root)
    for name in incremental.TABLES:
        got = _rows(incremental.read_table(spark, root, name))
        want = _rows(incremental.read_table(spark, full_root, name))
        assert got == want, f"{name} diverged after crash+resume"
    assert _rows(incremental.read_events(spark, root)) == _rows(
        incremental.read_events(spark, full_root)
    )
