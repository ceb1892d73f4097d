"""Physical-plan regression tests: the scale properties the design rules
promise must be visible in the optimized plan — filter pushdown to the
parquet scan, column pruning, broadcast dimension joins, no cartesian
products, no Python evaluation outside the sanctioned multimodal decode.
These lock tools/explain_audit.py's checks into CI.
"""

from __future__ import annotations

import pytest

from ph_ee_nats_importer_rdbms_spark.plans.queries import QUERIES
from ph_ee_nats_importer_rdbms_spark.sources.files import load_table


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "1998-09-02"
    ).select("l_returnflag", "l_quantity")
    plan = _plan(li)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_narrows_read_schema(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = _plan(li)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and "l_extendedprice" not in read[0]
    assert "l_orderkey" in read[0] and "l_quantity" in read[0]


def test_dimension_joins_broadcast(spark, sf_dir):
    plan = _plan(QUERIES["revenue_by_nation"][0](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "pricing_summary",
        "order_priority_late",
        "customers_without_orders",
        "revenue_rollup",
        "purchase_attribution",
        "user_sessions",
        "doc_repetition",
        "dup_ngram_frac",
        "minhash_dups",
        "transfers_range_filter",
        "transfer_detail_join",
        "importance_sample",
        "unigram_logprob",
        "corpus_diff",
        "chunk_documents",
        "events_anomaly",
        # round 9: subword/classifier/semantic-dedup/retrieval additions
        "bpe_pair_counts",
        "bpe_encode",
        "quality_classifier",
        "semdedup",
        "bm25_search",
        # round 10: store-served BM25 (per-delivery postings partials)
        "bm25_search_store",
    ],
)
def test_no_cartesian_or_stray_python(spark, sf_dir, name):
    plan = _plan(QUERIES[name][0](spark, sf_dir))
    assert "CartesianProduct" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, f"{name} has Python in the hot path"


def test_bm25_store_pushes_query_terms_to_postings_scan(spark, sf_dir):
    """The store-backed BM25 read (VERDICT r9 task #5): the config-sized
    query-term set must reach the committed postings artifact as a pushed
    parquet In-filter — the shape that reads matching row groups of a
    100 TB inverted index instead of scanning it and dropping rows after
    the fact."""
    df = QUERIES["bm25_search_store"][0](spark, sf_dir)
    plan = _plan(df)
    pushed = [
        ln
        for ln in plan.splitlines()
        if "PushedFilters" in ln and "In(token" in ln
    ]
    assert pushed, plan
    assert "CartesianProduct" not in plan


def test_bm25_store_read_is_single_exchange_with_group_limit(spark, sf_dir):
    """The compacted read path (VERDICT r11 task #2): dl and df are
    pre-joined/pre-aggregated into the committed partials and qid/df
    arrive as literal maps, so the warm plan must be ONE Exchange (the
    qid repartition serving both the fold and the rank window — no
    broadcast build, no tf⋈dl shuffle, no df recompute) and the top-k
    must plan as WindowGroupLimit (rank pushdown, not full sort+filter)."""
    df = QUERIES["bm25_search_store"][0](spark, sf_dir)
    plan = _plan(df)
    exchanges = [
        ln for ln in plan.splitlines() if ln.lstrip().startswith("(")
        and "Exchange" in ln and "Reused" not in ln
    ]
    assert len(exchanges) == 1, plan
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastExchange" not in plan, plan


def test_bm25_read_cache_purges_dead_session_entries(spark, sf_dir) -> None:
    from ph_ee_nats_importer_rdbms_spark.analytics import search as srch
    from ph_ee_nats_importer_rdbms_spark.analytics.incremental_curation import (
        staged_curation_store_root,
    )

    app = spark.sparkContext.applicationId
    dead = ("app-DEAD-0000", "/nowhere", (("000001_base.json", 1, 1),))
    srch._BM25_READ_CACHE[dead] = ((), 0, 0.0, "sentinel")
    root = staged_curation_store_root(spark, sf_dir)
    # drop any same-session cached entry so the read is a cache MISS
    for k in [k for k in srch._BM25_READ_CACHE if k[0] == app]:
        del srch._BM25_READ_CACHE[k]
    srch.read_bm25_search(spark, root)
    assert dead not in srch._BM25_READ_CACHE
    assert all(k[0] == app for k in srch._BM25_READ_CACHE)


def test_ann_search_store_prunes_probed_list_partitions(spark, sf_dir):
    """The store-backed serving entry (VERDICT r7 task #2): probes must
    reach the staged store's inverted-list layout as PartitionFilters on
    cluster_id — the plan shape that makes a probe read nprobe/nlist of a
    100 TB index instead of scanning it."""
    df = QUERIES["ann_search_store"][0](spark, sf_dir)
    plan = _plan(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and all("cluster_id" in ln for ln in pf), plan
    assert "CartesianProduct" not in plan


def test_tenant_lookup_prunes_tenant_partitions(spark, sf_dir):
    """The routed stage is hive-partitioned by tenant (the storage analog
    of the reference's per-tenant database routing), so the Q6 tenant
    lookup must reach the scan as PartitionFilters — a per-tenant read
    touches 1/n_tenants of a 100 TB corpus, never all of it. Pruning is
    a property of the STAGED layout: with the stage cache disabled the
    relation is an in-memory checkpoint with no files to prune, so the
    assertion only applies when staging is on."""
    from ph_ee_nats_importer_rdbms_spark.plans import staging

    if staging.cache_root() is None:
        pytest.skip("stage cache disabled: no parquet layout to prune")
    df = QUERIES["tenant_lookup"][0](spark, sf_dir)
    plan = _plan(df)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("tenant" in ln and "tn1" in ln for ln in pf), plan


def test_ann_recall_embeds_brute_force_once(spark, sf_dir, monkeypatch):
    """The r13 restructure: the five method results union into ONE
    broadcast semi-join against a single brute-force subtree, and the
    0-fill grid is map-only (exploded method literals — no sixth join).
    The old per-method shape embedded the whole brute-force chain six
    times (34 WindowGroupLimit / 12 BroadcastNestedLoopJoin nodes); pin
    the collapsed shape so a refactor can't silently reintroduce the
    duplication.

    Built FRESH past both memo layers: the registry memo hands back the
    same DataFrame object session-wide, so if an earlier test (e.g. the
    full-registry oracle run) already executed it, its explain renders
    the AQE FINAL plan — whose node list includes materialized query
    stages and re-prints shared subtrees, inflating the counts this test
    pins (observed: 40 WindowGroupLimit on the identical query). The
    initial plan is the order-independent shape to assert on."""
    from ph_ee_nats_importer_rdbms_spark.analytics import similarity
    from ph_ee_nats_importer_rdbms_spark.plans import queries as q

    monkeypatch.setattr(similarity, "_PLAN_MEMO_BYPASS", True)
    plan = _plan(q._QUERY_DEFS["ann_recall"][0](spark, sf_dir))
    nodes = [ln for ln in plan.splitlines() if ln.lstrip().startswith("(")]
    wgl = sum("WindowGroupLimit" in ln for ln in nodes)
    bnlj = sum("BroadcastNestedLoopJoin" in ln for ln in nodes)
    assert wgl <= 24, f"WindowGroupLimit nodes {wgl} > 24:\n{plan}"
    assert bnlj <= 7, f"BroadcastNestedLoopJoin nodes {bnlj} > 7:\n{plan}"
    assert "CartesianProduct" not in plan


def test_unigram_hot_tokens_take_the_broadcast_path(spark, sf_dir):
    """The Zipf-head split must be visible in the plan: the hot-token
    count join broadcasts (no reducer ever keys on a stopword). The
    registry entry reads the STAGED relation (round 7), so the gate
    inspects the build plan — the one that runs at ingest."""
    from ph_ee_nats_importer_rdbms_spark.analytics.training import (
        _unigram_logprob_build,
    )

    plan = _plan(_unigram_logprob_build(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_transfer_detail_join_aggregates_off_bucketed_scan(spark, sf_dir):
    """The r13 restructure: the Q7 aggregate entry reads the SAME
    co-bucketed store as transfer_detail_rows, so the two per-instance
    count aggregates satisfy their distribution straight off the scan —
    zero shuffle Exchanges (the only exchanges are the broadcasts of the
    16-bucket aggregate sides). At 100 TB the event logs never shuffle."""
    plan = _plan(QUERIES["transfer_detail_join"][0](spark, sf_dir))
    shuffles = [
        ln
        for ln in plan.splitlines()
        if ln.lstrip().startswith("(")
        and "Exchange" in ln
        and "Broadcast" not in ln
        and "Reused" not in ln
    ]
    assert not shuffles, plan


def test_ann_lsh_multi_broadcasts_candidates_not_corpus(spark, sf_dir):
    """The r13 scoring-join fix: the candidate side broadcasts and the
    bare corpus scan probes it. The old shape spread the corpus
    (RoundRobin Exchange) and Catalyst broadcast it WHOLE — a corpus
    broadcast is not a plan at 100 TB. Pin: no round-robin exchange, and
    some join probes a bare parquet scan (the corpus side)."""
    import re

    from ph_ee_nats_importer_rdbms_spark.analytics import similarity

    plan = _plan(QUERIES["ann_lsh_multi"][0](spark, sf_dir))
    assert "RoundRobinPartitioning" not in plan, plan
    # the probe side of the scoring join is the unshuffled corpus scan:
    # a ":- Filter"/":- Scan parquet" pair directly under a join node
    assert re.search(
        r":- (Filter \(\d+\)\n\s*:\s*\+- )?Scan parquet", plan
    ), plan


def test_embedding_outliers_plan_never_touches_the_array(spark, sf_dir):
    """The r13 restructure: distance-to-own-centroid is a staged index
    statistic, so the serving plan reads the 4-narrow-column artifact
    twice and computes NO cosine — if any embedding array (or the
    centroid literals) reappears in the plan, the double corpus pass is
    back."""
    plan = _plan(QUERIES["embedding_outliers"][0](spark, sf_dir))
    assert "array" not in plan.lower(), plan


@pytest.mark.parametrize(
    "name",
    [
        "pricing_summary",
        "revenue_by_nation",
        "top_parts",
        "order_priority_late",
        "revenue_rollup",
    ],
)
def test_tpch_fact_side_never_round_robin_spread(spark, sf_dir, name):
    """Pin the r13 NOT-spread decisions (VERDICT r13 task #10): a keyless
    repartition in front of the fact-side scans costs a measured 3-5x
    sort tax (spark.sql.execution.sortBeforeRepartition) at bench scale,
    and for the rounded-double-sum entries it additionally makes the
    output merge-order-dependent (the rounded value flipped vs the
    oracle when tried). No RoundRobin Exchange may reappear above the
    lineitem/orders scans in these five plans."""
    plan = _plan(QUERIES[name][0](spark, sf_dir))
    assert "RoundRobinPartitioning" not in plan, plan
