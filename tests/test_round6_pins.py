"""Regression pins for the round-5 advice fixes (VERDICT r5 task #2).

Three of the five round-5 fixes shipped without a test that fails on the
pre-fix code shape. This module pins two of them; the third,
payload-aware batch ids (a same-ids-different-payload delivery is
rejected by the re-delivery guard, not skipped as a replay), is pinned
with the rest of the shared store layer in tests/test_batch_store.py:

- the pipelined ranged reader's distinctive semantics — reply reordering
  across the window, duplicate replies, 404 mid-window under both
  ``missing`` modes, window > range — exercised against the protocol
  double with deterministic reorder/duplicate chaos knobs (the plain
  double replies strictly in order, so the reorder buffer never ran in
  the suite before);
- registry-in-WAL refresh recovery — crash a REGISTRY-parameterized
  refresh mid-merge, resume with no registry argument, and require the
  result to match a full rebuild under that registry (and to differ from
  default routing, proving the test detects a fallback); a WAL whose
  marker says has_registry but whose registry dir is gone must refuse to
  resume rather than silently rebuild with default routing (ADVICE r5).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ph_ee_nats_importer_rdbms_spark import config as cfg
from ph_ee_nats_importer_rdbms_spark.plans import incremental
from ph_ee_nats_importer_rdbms_spark.sources.nats_source import _WireTransport, _transport
from ph_ee_nats_importer_rdbms_spark.sources.nats_wire import (
    NatsWireClient,
    SeqOutOfRange,
)
from tests.nats_mini_server import MiniNatsServer
from tests.test_incremental import (
    DAY2,
    DAY3,
    _corpus,
    _day2_replacement,
    _rows,
    utc_session,  # noqa: F401  (fixture)
)
from tests.zeebe_fixtures import to_df


# ---------------------------------------------------------------------------
# get_msgs_pipelined semantics (sources/nats_wire.py)
# ---------------------------------------------------------------------------


def _publish_n(server: MiniNatsServer, n: int) -> None:
    with NatsWireClient(server.url) as c:
        for i in range(1, n + 1):
            c.publish(server.js.subject, f"m{i}".encode())
        c.flush()


def test_pipelined_reordered_replies_emit_in_sequence_order():
    """Replies flushed in reversed batches of 3 (a clustered JetStream API
    answering out of order) must still emit (seq, payload) pairs in
    sequence order with every payload on its own seq. 12 messages with a
    window of 6 exercises the reorder buffer and the window refill."""
    with MiniNatsServer(reorder_window=3) as s:
        _publish_n(s, 12)
        with NatsWireClient(s.url) as c:
            got = list(c.get_msgs_pipelined("zeebe", 0, 12, window=6))
    assert [g[0] for g in got] == list(range(1, 13))
    assert [g[2] for g in got] == [f"m{i}".encode() for i in range(1, 13)]


def test_pipelined_duplicate_replies_are_dropped():
    with MiniNatsServer(duplicate_replies=True) as s:
        _publish_n(s, 10)
        with NatsWireClient(s.url) as c:
            got = list(c.get_msgs_pipelined("zeebe", 0, 10, window=4))
    assert [g[0] for g in got] == list(range(1, 11))


def test_pipelined_reorder_plus_duplicates():
    with MiniNatsServer(reorder_window=2, duplicate_replies=True) as s:
        _publish_n(s, 8)
        with NatsWireClient(s.url) as c:
            got = list(c.get_msgs_pipelined("zeebe", 0, 8, window=4))
    assert [(g[0], g[2]) for g in got] == [
        (i, f"m{i}".encode()) for i in range(1, 9)
    ]


def test_pipelined_404_fail_raises_in_order():
    """missing=fail must yield every sequence BEFORE the hole in order,
    then raise on the hole itself — even though the window had replies
    for later sequences buffered already."""
    with MiniNatsServer() as s:
        _publish_n(s, 10)
        s.js.purge_seq(5)
        with NatsWireClient(s.url) as c:
            seen = []
            with pytest.raises(SeqOutOfRange) as exc:
                for seq, _subj, _data in c.get_msgs_pipelined(
                    "zeebe", 0, 10, window=8
                ):
                    seen.append(seq)
    assert seen == [1, 2, 3, 4]
    assert exc.value.seq == 5


def test_pipelined_404_skip_leaves_seq_gap():
    with MiniNatsServer() as s:
        _publish_n(s, 10)
        s.js.purge_seq(5)
        with NatsWireClient(s.url) as c:
            got = [
                seq
                for seq, _subj, _data in c.get_msgs_pipelined(
                    "zeebe", 0, 10, window=8, missing="skip"
                )
            ]
    assert got == [1, 2, 3, 4, 6, 7, 8, 9, 10]


def test_pipelined_window_larger_than_range():
    with MiniNatsServer() as s:
        _publish_n(s, 3)
        with NatsWireClient(s.url) as c:
            got = list(c.get_msgs_pipelined("zeebe", 0, 3, window=64))
    assert [g[0] for g in got] == [1, 2, 3]


def test_wire_transport_rejects_nonpositive_window():
    """ADVICE r5: pipeline_window <= 0 must be a config error at
    construction, not an opaque socket timeout at read time."""
    with pytest.raises(ValueError, match="pipeline_window"):
        _WireTransport("nats://127.0.0.1:4222", "zeebe", "fail", window=0)
    with pytest.raises(ValueError, match="pipeline_window"):
        _transport(
            {"transport": "wire", "pipeline_window": "-3"}
        )


# ---------------------------------------------------------------------------
# many-query ANN serving: engine-side ADC LUT (analytics/similarity.py)
# ---------------------------------------------------------------------------


def test_distributed_lut_is_bit_identical_to_driver_lut(spark, sf_dir):
    """VERDICT r4/r5 carried task #3: the engine-side LUT must agree with
    the driver fold BIT-FOR-BIT (IEEE doubles, same fold order), so the
    many-query route serves the same ADC scores the oracle-pinned
    driver route does."""
    from ph_ee_nats_importer_rdbms_spark.analytics import similarity as sim
    from ph_ee_nats_importer_rdbms_spark.sources.files import load_table, spread

    q = spread(load_table(spark, sf_dir, "embeddings")).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    driver = {
        r["query_id"]: (r["lut"], r["q_norm"])
        for r in sim._pq_query_lut(sf_dir, q, n_queries=1).collect()
    }
    dist = {
        r["query_id"]: (r["lut"], r["q_norm"])
        for r in sim._pq_query_lut_distributed(sf_dir, q).collect()
    }
    assert driver.keys() == dist.keys() and driver
    for qid, (lut_d, norm_d) in driver.items():
        lut_e, norm_e = dist[qid]
        assert norm_d == norm_e  # exact, not approx
        assert lut_d == lut_e


def test_embed_band_sizing_holds_occupancy_and_oracle_contract():
    """The sf10 scaling bench exposed the fixed-plane quadratic: 4 planes
    = 16 buckets forever, so candidates grow n²/16. The band formula must
    (a) reproduce the original single 4-plane table at the oracle scales
    (sf0.001 n=200, sf0.01 n=500 — the static DuckDB literal's validity
    contract) and (b) grow planes with log2(n) so bucket occupancy stays
    bounded, with bands recovering design-point recall."""
    from ph_ee_nats_importer_rdbms_spark.analytics.dedup import (
        EMBED_TARGET_OCC,
        _EMBED_DESIGN_P,
        embed_bands_for,
    )

    assert embed_bands_for(200) == (1, 4)
    assert embed_bands_for(500) == (1, 4)
    prev_r = 4
    for n in (2_000, 20_000, 200_000, 2_000_000):
        bands, r = embed_bands_for(n)
        assert r >= prev_r
        prev_r = r
        # occupancy bound: buckets = 2^r, expected occupancy <= 2x target
        assert n / (1 << r) <= 2 * EMBED_TARGET_OCC or r == 16
        # recall floor: banded >= the original 4-plane single table
        single4 = _EMBED_DESIGN_P**4
        banded = 1 - (1 - _EMBED_DESIGN_P**r) ** bands
        assert banded >= single4 - 1e-9, (n, bands, r)


def test_ann_search_serves_arbitrary_query_relations(spark, sf_dir):
    """ann_search is the user-facing serving API: top-k for ANY
    (query_id, q_emb) relation on both compositions. A corpus vector
    queried under a foreign id must find ITSELF at rank 1 with cosine
    1.0 when self-matches are allowed (ids are not corpus ids, so
    exclude_self=False), on the full-scan route and the IVF-pruned route
    alike — the sharpest deterministic correctness probe of the search
    path."""
    from ph_ee_nats_importer_rdbms_spark.analytics import similarity as sim
    from ph_ee_nats_importer_rdbms_spark.sources.files import load_table, spread

    e = spread(load_table(spark, sf_dir, "embeddings"))
    queries = e.filter(F.col("vec_id").isin(5, 7)).select(
        (F.col("vec_id") + 900_000).alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    for variant in ("pq", "ivf_pq"):
        out = sim.ann_search(
            spark, sf_dir, queries, k=3, n_queries=2,
            variant=variant, exclude_self=False,
        ).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r["query_id"], []).append(r)
        assert set(by_q) == {900_005, 900_007}, variant
        for qid, rows in by_q.items():
            assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == [1, 2, 3]
            top = min(rows, key=lambda r: r["rank"])
            assert top["vec_id"] == qid - 900_000, variant
            assert top["cosine"] == 1.0, variant


def test_lut_router_switches_by_size_and_preserves_ann_output(
    spark, sf_dir, monkeypatch
):
    """The size switch: above PQ_LUT_DRIVER_MAX the router must take the
    engine-side path (no driver-proportional collect), and the full
    q_ann_pq output under the forced engine route equals the oracle-
    pinned driver-route output."""
    from ph_ee_nats_importer_rdbms_spark.analytics import similarity as sim

    normal = {tuple(r) for r in sim.q_ann_pq(spark, sf_dir).collect()}

    def no_collect(self, *a, **k):  # pragma: no cover - must not run
        raise AssertionError("driver-side collect on the many-query route")

    monkeypatch.setattr(sim, "PQ_LUT_DRIVER_MAX", 0)
    # the plan memo must not serve (or cache) a construction made under
    # a patched router — bypass it so the engine route really constructs
    monkeypatch.setattr(sim, "_PLAN_MEMO_BYPASS", True)
    monkeypatch.setattr(
        "pyspark.sql.classic.dataframe.DataFrame.collect",
        no_collect,
        raising=True,
    )
    try:
        forced_df = sim.q_ann_pq(spark, sf_dir)
    finally:
        monkeypatch.undo()
    forced = {tuple(r) for r in forced_df.collect()}
    assert forced == normal and normal


# ---------------------------------------------------------------------------
# registry-parameterized refresh recovery (plans/incremental.py)
# ---------------------------------------------------------------------------

#: PayeeQuoteTransfer re-routed to TRANSACTION-REQUEST/OUTGOING — visibly
#: different routing than the default registry (instances land in the
#: transaction_requests table instead of transfers).
_ALT_REGISTRY = {
    **cfg.DEFAULT_PROCESS_REGISTRY,
    "PayeeQuoteTransfer": (cfg.TRANSACTION_REQUEST_TYPE, cfg.OUTGOING),
}


def _crash_refresh_with_registry(spark, root, monkeypatch):
    """Build a store under _ALT_REGISTRY, crash a registry-parameterized
    refresh mid-table-merge (same injection point as the round-3 crash
    test), and return the registry DataFrame used."""
    registry = cfg.registry_df(spark, _ALT_REGISTRY)
    incremental.build_store(
        spark, to_df(spark, _corpus()), root, registry=registry
    )
    calls = {"n": 0}
    real = incremental._overwrite_day_partitions

    def dying(df, path, days, part_col):
        calls["n"] += 1
        if calls["n"] == 4:
            raise RuntimeError("injected crash")
        return real(df, path, days, part_col)

    monkeypatch.setattr(incremental, "_overwrite_day_partitions", dying)
    with pytest.raises(RuntimeError, match="injected crash"):
        incremental.refresh_days(
            spark,
            root,
            to_df(spark, _day2_replacement()),
            changed_days=["2024-03-02"],
            registry=registry,
        )
    monkeypatch.setattr(incremental, "_overwrite_day_partitions", real)
    return registry


@pytest.mark.slow
def test_registry_refresh_crash_resume_routes_identically(
    utc_session, tmp_path, monkeypatch  # noqa: F811
):
    spark = utc_session
    root = str(tmp_path / "store")
    registry = _crash_refresh_with_registry(spark, root, monkeypatch)

    # resume takes NO registry argument: routing must come from the WAL
    stats = incremental.resume_refresh(spark, root)
    assert stats is not None and stats["changed_days"] == ["2024-03-02"]

    post = [r for r in _corpus() if not (DAY2 <= (r["timestamp"] or 0) < DAY3)]
    post += _day2_replacement()
    alt_full = str(tmp_path / "alt_full")
    incremental.build_store(spark, to_df(spark, post), alt_full, registry=registry)
    default_full = str(tmp_path / "default_full")
    incremental.build_store(spark, to_df(spark, post), default_full)

    diverged_from_default = False
    for name in incremental.TABLES:
        got = _rows(incremental.read_table(spark, root, name))
        want = _rows(incremental.read_table(spark, alt_full, name))
        assert got == want, f"{name} diverged from the alt-registry rebuild"
        if got != _rows(incremental.read_table(spark, default_full, name)):
            diverged_from_default = True
    # sanity: the alt registry visibly changes routing, so a resume that
    # silently fell back to the default registry would have failed above
    assert diverged_from_default


def test_resume_refuses_wal_with_missing_registry_dir(
    utc_session, tmp_path, monkeypatch  # noqa: F811
):
    spark = utc_session
    root = str(tmp_path / "store")
    _crash_refresh_with_registry(spark, root, monkeypatch)

    # corrupt the WAL: marker says has_registry, dir is gone
    import shutil

    shutil.rmtree(os.path.join(incremental._pending_dir(root), "registry"))
    with pytest.raises(RuntimeError, match="has_registry"):
        incremental.resume_refresh(spark, root)
