"""Analytics operator tests at sf0.001 — invariants that hold regardless
of corpus content (the DuckDB oracle gate covers exact values; these pin
the algebraic properties the operators promise).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ph_ee_nats_importer_rdbms_spark.analytics import dedup, similarity, text
from ph_ee_nats_importer_rdbms_spark.analytics.multimodal import (
    extract_features,
    media_table,
)
from ph_ee_nats_importer_rdbms_spark.sources.files import load_table


@pytest.fixture(scope="module")
def n_docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").count()


def test_minhash_signature_bounds(spark, sf_dir, n_docs):
    sigs = dedup.minhash_signatures(spark, sf_dir)
    assert sigs.count() == n_docs
    row = sigs.agg(
        *[F.min(f"sig_{j}").alias(f"lo{j}") for j in range(12)],
        *[F.max(f"sig_{j}").alias(f"hi{j}") for j in range(12)],
    ).collect()[0]
    for j in range(12):
        assert 0 <= row[f"lo{j}"] <= row[f"hi{j}"] < dedup.MINHASH_PRIME


def test_minhash_dups_are_symmetric_free_and_above_threshold(spark, sf_dir):
    dups = dedup.q_minhash_dups(spark, sf_dir).collect()
    assert len(dups) > 0  # corpus contains planted near-dups
    for r in dups:
        assert r["doc_a"] < r["doc_b"]
        assert r["jaccard"] >= dedup.JACCARD_THRESHOLD


def test_connected_components_chain_and_islands(spark):
    """Hash-Min CC over a worst-case shape: a 6-node chain (diameter 5,
    forcing multiple propagation rounds), one triangle, one isolated pair.
    Every node must end with its component's MIN id as the label."""
    from ph_ee_nats_importer_rdbms_spark.analytics.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        # chain 10-11-12-13-14-15 listed in reverse so min-label has to
        # travel the full diameter
        [(15, 14), (14, 13), (13, 12), (12, 11), (11, 10),
         # triangle 20-21-22
         (20, 21), (21, 22), (20, 22),
         # isolated pair
         (30, 31)],
        "doc_a long, doc_b long",
    )
    got = {
        r["node"]: r["label"] for r in connected_components(pairs).collect()
    }
    assert got == {
        10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 15: 10,
        20: 20, 21: 20, 22: 20,
        30: 30, 31: 30,
    }


def test_connected_components_long_chain_converges(spark, monkeypatch):
    """Pathological shape on the DISTRIBUTED path (driver fast path forced
    off): a 200-node chain (diameter 199) listed in reverse. Plain Hash-Min
    would need 199 rounds — far past CC_MAX_ITERS and would previously
    return silently-wrong labels; pointer-doubling shortcutting must
    converge within the cap and label every node with the chain's min id."""
    from ph_ee_nats_importer_rdbms_spark.analytics import dedup as dd

    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_MAX_EDGES", "0")
    n = 200
    pairs = spark.createDataFrame(
        [(i + 1, i) for i in range(n - 1, 0, -1)], "doc_a long, doc_b long"
    ).coalesce(4)
    got = {
        r["node"]: r["label"] for r in dd.connected_components(pairs).collect()
    }
    assert got == {i: 1 for i in range(1, n + 1)}


def test_connected_components_adaptive_paths_agree(spark, monkeypatch):
    """Driver union-find (small-graph adaptive path) and distributed
    Hash-Min must produce identical labelings on the same graph."""
    from ph_ee_nats_importer_rdbms_spark.analytics import dedup as dd

    edges = [(15, 14), (14, 13), (13, 12), (12, 11), (11, 10),
             (20, 21), (21, 22), (20, 22), (30, 31)]
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    via_driver = {
        r["node"]: r["label"] for r in dd.connected_components(pairs).collect()
    }
    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_MAX_EDGES", "0")
    via_dist = {
        r["node"]: r["label"] for r in dd.connected_components(pairs).collect()
    }
    assert via_driver == via_dist


def test_cc_crossover_is_memory_derived_and_boundary_exact(spark, monkeypatch):
    """The driver fast path's edge budget is sized from physical memory
    (bytes-per-edge model, clamped to [10k, 2M]) with an env override; AT
    the boundary the driver path runs, ONE edge past it the distributed
    path runs, and both label identically."""
    from ph_ee_nats_importer_rdbms_spark.analytics import dedup as dd

    # memory-derived default respects the clamps on any machine
    monkeypatch.delenv("SPARK_GRAFT_CC_DRIVER_MAX_EDGES", raising=False)
    budget = dd.cc_driver_max_edges()
    assert 10_000 <= budget <= dd.CC_DRIVER_MAX_EDGES
    # and is the memory model's value when the machine is big enough
    import os as _os

    total = _os.sysconf("SC_PAGE_SIZE") * _os.sysconf("SC_PHYS_PAGES")
    expect = max(
        10_000,
        min(
            dd.CC_DRIVER_MAX_EDGES,
            int(total * dd.CC_DRIVER_MEM_FRACTION / dd.CC_DRIVER_BYTES_PER_EDGE),
        ),
    )
    assert budget == expect

    edges = [(15, 14), (14, 13), (13, 12), (20, 21)]  # 4 edges, 2 comps
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    want = {15: 12, 14: 12, 13: 12, 12: 12, 20: 20, 21: 20}

    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_MAX_EDGES", str(len(edges)))
    at_boundary = {
        r["node"]: r["label"] for r in dd.connected_components(pairs).collect()
    }
    monkeypatch.setenv("SPARK_GRAFT_CC_DRIVER_MAX_EDGES", str(len(edges) - 1))
    past_boundary = {
        r["node"]: r["label"] for r in dd.connected_components(pairs).collect()
    }
    assert at_boundary == past_boundary == want


def test_dup_clusters_keeper_per_cluster(spark, sf_dir):
    """Every cluster has exactly one keeper = its min doc id, and the
    member set equals the docs appearing in any verified near-dup pair."""
    from ph_ee_nats_importer_rdbms_spark.analytics.dedup import (
        q_dup_clusters,
        q_minhash_dups,
    )

    clusters = q_dup_clusters(spark, sf_dir).collect()
    by_cluster: dict = {}
    for r in clusters:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        keepers = [m for m in members if m["is_keeper"]]
        assert len(keepers) == 1 and keepers[0]["doc_id"] == cid
        assert cid == min(m["doc_id"] for m in members)
    paired = set()
    for r in q_minhash_dups(spark, sf_dir).collect():
        paired.update((r["doc_a"], r["doc_b"]))
    assert {r["doc_id"] for r in clusters} == paired


def test_simhash_near_dup_recall_vs_bruteforce(spark, sf_dir):
    """The band join must find EVERY pair within the Hamming radius
    (pigeonhole guarantee) — verify against a driver-side brute force."""
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash_table(spark, sf_dir).collect()}
    want = {
        (a, b)
        for a in sh
        for b in sh
        if a < b and bin(sh[a] ^ sh[b]).count("1") <= dedup.SIMHASH_MAX_HAMMING
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.q_simhash_dups(spark, sf_dir).collect()
    }
    assert got == want


def test_ann_bruteforce_topk_shape(spark, sf_dir):
    res = similarity.q_ann_bruteforce(spark, sf_dir)
    rows = res.collect()
    per_query = {}
    for r in rows:
        per_query.setdefault(r["query_id"], []).append(r)
    assert set(per_query) == set(range(similarity.N_QUERIES))
    for q, rs in per_query.items():
        rs = sorted(rs, key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, similarity.TOP_K + 1))
        cos = [r["cosine"] for r in rs]
        assert cos == sorted(cos, reverse=True)
        assert all(r["vec_id"] != q for r in rs)


def test_ann_ivf_shape_and_recall_floor(spark, sf_dir):
    """IVF returns a full top-k per query drawn from the probed lists, and
    with nprobe=2/16 lists should recover a reasonable share of the true
    top-k (clustered embeddings keep neighbors in nearby lists)."""
    bf = {
        (r["query_id"], r["vec_id"])
        for r in similarity.q_ann_bruteforce(spark, sf_dir).collect()
    }
    ivf_rows = similarity.q_ann_ivf(spark, sf_dir).collect()
    per_query = {}
    for r in ivf_rows:
        per_query.setdefault(r["query_id"], []).append(r)
    assert set(per_query) == set(range(similarity.N_QUERIES))
    hits = sum(1 for r in ivf_rows if (r["query_id"], r["vec_id"]) in bf)
    recall = hits / len(bf)
    assert recall >= 0.3, f"IVF recall collapsed: {recall:.2f}"


def test_ann_lsh_multi_recall_dominates_single_table(spark, sf_dir):
    """Table 0 of the multi-table family IS the single-table plane set, so
    the multi-table candidate pool is a superset — per-query recall
    against brute force can never be lower than single-table's."""
    from ph_ee_nats_importer_rdbms_spark.analytics.similarity import (
        q_ann_recall,
    )

    rows = q_ann_recall(spark, sf_dir).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], {})[r["method"]] = r["n_hits"]
    assert by_q, "no recall rows"
    for q, methods in by_q.items():
        assert methods["lsh_multi"] >= methods["lsh"], q


def test_ivf_store_prunes_partitions_and_matches_inline(spark, sf_dir, tmp_path):
    """The materialized IVF layout: the index written partitioned by
    cluster_id, probes served as a partition-pruned read (PartitionFilters
    in the scan), results identical to the inline q_ann_ivf plan."""
    from ph_ee_nats_importer_rdbms_spark.analytics.similarity import (
        ann_ivf_from_store,
        q_ann_ivf,
        save_ivf_store,
    )

    store = str(tmp_path / "ivf_store")
    save_ivf_store(spark, sf_dir, store)

    got_df = ann_ivf_from_store(spark, sf_dir, store)
    plan = got_df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        got_df._jdf.queryExecution(), "formatted"
    )
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("cluster_id" in ln for ln in pf), plan

    got = sorted(tuple(r) for r in got_df.collect())
    want = sorted(tuple(r) for r in q_ann_ivf(spark, sf_dir).collect())
    assert got == want and got


def test_ann_lsh_is_subset_of_bruteforce_candidates(spark, sf_dir):
    """LSH results are drawn from the same scored universe; any neighbor LSH
    returns must score <= the brute-force best at the same rank."""
    bf = {
        (r["query_id"], r["rank"]): r["cosine"]
        for r in similarity.q_ann_bruteforce(spark, sf_dir).collect()
    }
    for r in similarity.q_ann_lsh(spark, sf_dir).collect():
        assert r["cosine"] <= bf[(r["query_id"], 1)] + 1e-9


def test_plan_memo_purges_dead_session_entries(spark, sf_dir) -> None:
    """An entry keyed by a stopped session's applicationId can never be
    served again (the DataFrame is bound to its dead session) — any
    insert must purge it, or a session-restarting process (pytest,
    notebooks) grows the dict without bound."""
    app = spark.sparkContext.applicationId
    dead = ("app-DEAD-0000", "q_ann_bruteforce", "/nowhere", None, ("fp",))
    similarity._PLAN_MEMO[dead] = "sentinel"
    # drop any same-session cached entry first: the sweep runs on
    # INSERT, so the call below must be a memo MISS regardless of which
    # tests (and plans) ran earlier in this session
    for k in [k for k in similarity._PLAN_MEMO if k[0] == app]:
        del similarity._PLAN_MEMO[k]
    similarity.q_ann_lsh(spark, sf_dir)
    assert dead not in similarity._PLAN_MEMO
    assert all(k[0] == app for k in similarity._PLAN_MEMO)


def test_lang_id_covers_all_docs_with_known_labels(spark, sf_dir, n_docs):
    res = text.q_lang_id(spark, sf_dir)
    assert res.count() == n_docs
    preds = {r["predicted_lang"] for r in res.select("predicted_lang").distinct().collect()}
    assert preds <= set(text.LANG_LEXICONS) | {"und"}


def test_quality_score_in_unit_interval(spark, sf_dir):
    res = text.q_quality(spark, sf_dir)
    row = res.agg(
        F.min("quality_score").alias("lo"), F.max("quality_score").alias("hi")
    ).collect()[0]
    assert 0.0 <= row["lo"] <= row["hi"] <= 1.0


def test_fingerprints_sampled_mod(spark, sf_dir):
    fp = text.q_fingerprints(spark, sf_dir)
    bad = fp.filter(F.col("fingerprint") % text.FINGERPRINT_MOD != 0).count()
    assert bad == 0 and fp.count() > 0


def test_media_features_deterministic_fake_decode(spark, sf_dir, n_docs):
    feats = extract_features(media_table(spark, sf_dir))
    rows = feats.collect()
    assert len(rows) == n_docs
    for r in rows[:20]:
        assert r["n_bytes"] > 0 and len(r["content_md5"]) == 32
        for i in range(4):
            assert 0.0 <= r[f"feat_{i}"] <= 1.0


def test_split_is_deterministic_partition_of_corpus(spark, sf_dir, n_docs):
    """Every doc gets exactly one split label; assignment is stable across
    evaluations (pure function of doc_id, no RNG state)."""
    from ph_ee_nats_importer_rdbms_spark.analytics import training

    a = training.q_train_test_split(spark, sf_dir)
    assert a.count() == n_docs
    counts = {r["split"]: r["n"] for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) <= {"train", "valid", "test"}
    assert counts["train"] > counts.get("test", 0)  # ~80/10/10
    b = {r["doc_id"]: r["split"] for r in training.q_train_test_split(spark, sf_dir).collect()}
    assert {r["doc_id"]: r["split"] for r in a.collect()} == b


def test_leakage_safe_split_moves_dup_clusters_atomically(spark, sf_dir):
    """The cluster-aware split's contract: (1) it is a total assignment
    (every doc, exactly one label); (2) NO verified near-dup pair straddles
    a split boundary — the structural leakage guarantee; (3) the guarantee
    is not vacuous on this corpus: the plain per-doc split DOES place some
    near-dup pairs across the boundary, so the cluster keying is what
    closes them; (4) singletons (docs in no verified pair) keep a bucket
    that is a pure function of their own id — adding/removing OTHER docs'
    duplicates cannot move them."""
    from ph_ee_nats_importer_rdbms_spark.analytics import training

    lss = {
        r["doc_id"]: r["split"]
        for r in training.q_leakage_safe_split(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    assert len(lss) == docs.count()
    assert set(lss.values()) <= {"train", "valid", "test"}

    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in dedup.q_minhash_dups(spark, sf_dir).collect()
    ]
    assert pairs, "corpus must contain verified near-dup pairs"
    assert all(lss[a] == lss[b] for a, b in pairs)

    plain = {
        r["doc_id"]: r["split"]
        for r in training.q_train_test_split(spark, sf_dir).collect()
    }
    assert any(plain[a] != plain[b] for a, b in pairs), (
        "per-doc split splits no cluster on this corpus - property vacuous"
    )

    clustered = {d for a, b in pairs for d in (a, b)}
    labels = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.q_dup_clusters(spark, sf_dir).collect()
    }
    for doc, split in lss.items():
        if doc not in clustered:
            assert doc not in labels or labels[doc] == doc


def test_decontamination_pairs_cross_splits_and_meet_threshold(spark, sf_dir):
    from ph_ee_nats_importer_rdbms_spark.analytics import training

    split = {
        r["doc_id"]: r["split"]
        for r in training.q_train_test_split(spark, sf_dir).collect()
    }
    for r in training.q_decontamination(spark, sf_dir).collect():
        assert split[r["test_doc_id"]] == "test"
        assert split[r["train_doc_id"]] == "train"
        assert r["overlap"] >= training.DECONTAMINATION_MIN_OVERLAP


def test_decontamination_capped_bounds_hot_keys(spark, sf_dir):
    """The stop-shingle cap contract: (1) after the cap, NO shingle reaching
    the pair join appears in more than DECON_MAX_DF documents — the hot-key
    bound that makes the shuffle skew-safe at 100 TB; (2) the cap only ever
    REMOVES leakage evidence, so surviving capped pairs are a subset of the
    uncapped pairs with overlap no larger; (3) the cap actually bites on
    this corpus (some shingle exceeds it), so (1) is not vacuous."""
    from ph_ee_nats_importer_rdbms_spark.analytics import training
    from ph_ee_nats_importer_rdbms_spark.analytics.dedup import shingle_sets

    labeled = shingle_sets(spark, sf_dir).select(
        "doc_id",
        training.split_column().alias("split"),
        F.explode("shingles").alias("shingle"),
    )
    df_rows = labeled.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    max_df = df_rows.agg(F.max("df")).collect()[0][0]
    assert max_df > training.DECON_MAX_DF, "cap never bites — raise/lower it"

    rare = df_rows.filter(F.col("df") <= training.DECON_MAX_DF).select("shingle")
    capped_max = (
        labeled.join(rare, "shingle", "leftsemi")
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.max("df"))
        .collect()[0][0]
    )
    assert capped_max <= training.DECON_MAX_DF

    uncapped = {
        (r["test_doc_id"], r["train_doc_id"]): r["overlap"]
        for r in training.q_decontamination(spark, sf_dir).collect()
    }
    for r in training.q_decontamination_capped(spark, sf_dir).collect():
        key = (r["test_doc_id"], r["train_doc_id"])
        assert key in uncapped and r["overlap"] <= uncapped[key]


def test_dup_ngram_hot_split_matches_and_bounds_join_keys(spark, sf_dir):
    """The skew-hardened dup-ngram plan is semantics-preserving: the
    hot/rare split routes trivially-shared grams (df > DUP_NGRAM_HOT_DF)
    around the shuffle join, and the rows that DO shuffle carry at most
    DUP_NGRAM_HOT_DF entries per gram key. Verified against a direct
    recomputation of the naive formula."""
    from ph_ee_nats_importer_rdbms_spark.analytics.hashing import spark_h32
    from ph_ee_nats_importer_rdbms_spark.sources.files import load_table

    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    n = text.DUP_NGRAM_N
    grams = (
        d.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= n)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {n - 1}),"
                    f" i -> array_join(slice(toks, i, {n}), ' '))"
                )
            ).alias("gram"),
        )
        .select("doc_id", F.expr(spark_h32("gram")).alias("gram_h"))
    )
    per_doc = grams.groupBy("doc_id", "gram_h").agg(F.count(F.lit(1)).alias("cnt"))
    df_tbl = per_doc.groupBy("gram_h").agg(F.count(F.lit(1)).alias("n_docs"))
    # the rare (shuffle) side honors the per-key bound
    rare_max = (
        df_tbl.filter(F.col("n_docs") <= text.DUP_NGRAM_HOT_DF)
        .agg(F.max("n_docs"))
        .collect()[0][0]
    )
    assert rare_max <= text.DUP_NGRAM_HOT_DF
    # the split actually fires here (hot grams exist at this scale)
    n_hot = df_tbl.filter(F.col("n_docs") > text.DUP_NGRAM_HOT_DF).count()
    assert n_hot > 0, "hot path never exercised — lower DUP_NGRAM_HOT_DF"
    # semantics: engine output == naive recomputation
    naive = {
        r["doc_id"]: (r["n_grams"], r["dup_frac"])
        for r in grams.join(
            df_tbl.withColumnRenamed("n_docs", "nd"), "gram_h"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            (
                F.floor(
                    F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                    / F.count(F.lit(1))
                    * 10000
                )
                / 10000
            ).alias("dup_frac"),
        )
        .collect()
    }
    got = {
        r["doc_id"]: (r["n_grams"], r["dup_frac"])
        for r in text.q_dup_ngram_frac(spark, sf_dir).collect()
    }
    assert got == naive


def test_length_percentiles_ordered(spark, sf_dir):
    from ph_ee_nats_importer_rdbms_spark.analytics import training

    for r in training.q_length_percentiles(spark, sf_dir).collect():
        assert r["p50"] <= r["p90"] <= r["p99"]


def test_balanced_sample_quota_and_determinism(spark, sf_dir):
    from ph_ee_nats_importer_rdbms_spark.analytics import training

    s = training.q_balanced_sample(spark, sf_dir)
    per_lang = {r["lang"]: r["n"] for r in s.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert all(n <= training.BALANCED_SAMPLE_K for n in per_lang.values())
    again = {(r["lang"], r["rank"]): r["doc_id"] for r in s.collect()}
    assert {(r["lang"], r["rank"]): r["doc_id"] for r in training.q_balanced_sample(spark, sf_dir).collect()} == again


def test_purchase_attribution_matches_bruteforce_asof(spark, sf_dir):
    """The windowed as-of join must equal the naive inequality join +
    per-click argmax (strictly-earlier purchase, per user)."""
    from ph_ee_nats_importer_rdbms_spark.plans.queries import (
        _q_purchase_attribution,
    )

    got = {
        (r["event_id"]): (r["click_ts_us"], r["last_purchase_ts_us"])
        for r in _q_purchase_attribution(spark, sf_dir).collect()
    }

    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", us.alias("c_us")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), us.alias("p_us")
    )
    brute = (
        clicks.join(
            purchases,
            (clicks["user_id"] == purchases["p_user"])
            & (purchases["p_us"] < clicks["c_us"]),
            "left",
        )
        .groupBy("event_id", "c_us")
        .agg(F.max("p_us").alias("p_us"))
    )
    want = {r["event_id"]: (r["c_us"], r["p_us"]) for r in brute.collect()}
    assert got == want and len(got) > 0


def test_repetition_ratios_bounded_and_consistent(spark, sf_dir):
    rep = {r["doc_id"]: r for r in text.q_repetition(spark, sf_dir).collect()}
    assert rep
    for r in rep.values():
        assert 0 < r["distinct_ratio"] <= 1.0
        # ratios are floor-truncated to 4dp, so allow 1e-4 under the bound
        assert 1.0 / r["n_tokens"] - 1e-4 <= r["top_token_frac"] <= 1.0
        assert 0 <= r["dup_bigram_frac"] < 1.0
        # a doc where every token is unique has no repeated bigrams
        if r["distinct_ratio"] == 1.0:
            assert r["dup_bigram_frac"] == 0.0


def test_dup_ngram_frac_is_one_for_exact_copies(spark, sf_dir):
    """Exact duplicate documents share every n-gram, so both members of a
    copy-group must score dup_frac == 1.0."""
    from ph_ee_nats_importer_rdbms_spark.plans.queries import _q_doc_exact_dedup

    groups = _q_doc_exact_dedup(spark, sf_dir).filter(F.col("n_copies") > 1)
    keepers = {r["keeper_doc_id"] for r in groups.collect()}
    frac = {
        r["doc_id"]: r["dup_frac"]
        for r in text.q_dup_ngram_frac(spark, sf_dir).collect()
    }
    assert frac and all(0 <= v <= 1.0 for v in frac.values())
    # sf0.001 has no exact copies; sf0.01+ does — assert where present
    for doc_id in keepers:
        assert frac[doc_id] == 1.0


def test_recommended_ann_routes_to_best_measured_path(spark, sf_dir):
    """``q_ann`` (the general-ANN default) is the PQ asymmetric-distance +
    exact-re-rank path: identical results, and its measured mean recall@10
    clears the 0.3 deployment floor and beats the other approximate paths
    on this corpus — the routing the docstrings promise."""
    rec = sorted(tuple(r) for r in similarity.q_ann(spark, sf_dir).collect())
    pq = sorted(tuple(r) for r in similarity.q_ann_pq(spark, sf_dir).collect())
    assert rec == pq and rec

    rows = similarity.q_ann_recall(spark, sf_dir).collect()
    mean = {}
    for r in rows:
        mean.setdefault(r["method"], []).append(r["n_hits"])
    mean = {m: sum(v) / (len(v) * similarity.TOP_K) for m, v in mean.items()}
    assert mean["pq"] >= 0.3, mean
    assert mean["pq"] >= mean["ivf"], mean
    assert mean["ivf"] >= mean["lsh_multi"] >= mean["lsh"], mean


def test_ivf_codebooks_are_learned_per_corpus(spark):
    """The checked-in artifact holds a k-means codebook per known corpus
    plus a default; unit-ish guards that retraining kept the contract the
    oracle relies on (k x dim, float32-exact values, sf0.01 present)."""
    import numpy as np

    assert similarity.ORACLE_SF_BASE in similarity.IVF_CODEBOOKS
    assert "default" in similarity.IVF_CODEBOOKS
    for name, cents in similarity.IVF_CODEBOOKS.items():
        assert len(cents) == similarity.IVF_NLIST, name
        assert all(len(c) == similarity.EMBED_DIM for c in cents), name
        arr = np.array(cents)
        # float32 round-trip exactness: the oracle literal contract
        assert np.all(arr == arr.astype(np.float32).astype(np.float64)), name
    # codebooks must differ per corpus (learned, not copied)
    assert similarity.IVF_CODEBOOKS["sf0.01"] != similarity.IVF_CODEBOOKS["sf0.1"]


def test_check_oracles_labels_scale_bound_oracles(tmp_path):
    """tools/check_oracles.py finds the oracles that embed artifacts
    trained on ORACLE_SF_BASE (ANN codebooks, BPE merges, the quality
    classifier) and labels a mismatch of one on a corpus of another scale
    as valid only at that scale, not as a failure; on a corpus of its own
    scale the mismatch still fails, whatever the directory is called,
    and other entries are unaffected."""
    import os
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from check_oracles import QUERIES, corpus_scale, label, oracle_scale

    base = similarity.ORACLE_SF_BASE
    bound = {n for n, (_fn, oracle) in QUERIES.items() if oracle_scale(oracle)}
    assert {"ann_search_store", "ann_ivf", "ann_pq", "bpe_encode", "quality_classifier"} <= bound
    assert "vocabulary_store" not in bound

    def corpus(name: str, scale: float) -> str:
        d = tmp_path / name
        d.mkdir()
        rows = round(1_500_000 * scale)
        pq.write_table(pa.table({"o_orderkey": list(range(rows))}), d / "orders.parquet")
        return str(d)

    small = corpus_scale(corpus("sf0.01", 0.001))
    assert small == "sf0.001"
    at_base = corpus_scale(corpus("renamed_corpus", float(base[2:])))
    assert at_base == base
    miss = "74/100 rows differ"
    line, failed = label("ann_search_store", False, miss, small)
    assert not failed
    assert line.startswith(f"ONLY ann_search_store: oracle valid only at {base}, corpus is sf0.001")
    assert label("ann_search_store", False, miss, at_base) == (
        f"FAIL ann_search_store: {miss}", True
    )
    assert label("vocabulary_store", False, miss, small)[1]
    assert label("ann_search_store", False, "spark error: boom", small)[1]


def test_pq_codebooks_and_codes_contract(spark, sf_dir):
    """PQ artifact shape (m subspaces x k centroids x dsub dims, float32-
    exact — the oracle literal contract) and the staged code table's
    invariants: one code row per vector, codes in [0, k), stored
    approx_norm2 equals the reconstructed centroid norm."""
    import numpy as np

    assert similarity.ORACLE_SF_BASE in similarity.PQ_CODEBOOKS
    assert "default" in similarity.PQ_CODEBOOKS
    for name, books in similarity.PQ_CODEBOOKS.items():
        assert len(books) == similarity.PQ_M, name
        for book in books:
            assert len(book) == similarity.PQ_K, name
            assert all(len(c) == similarity.PQ_DSUB for c in book), name
            arr = np.array(book)
            assert np.all(arr == arr.astype(np.float32).astype(np.float64)), name
    assert similarity.PQ_CODEBOOKS["sf0.01"] != similarity.PQ_CODEBOOKS["sf0.1"]

    codes = similarity.pq_codes_table(spark, sf_dir).collect()
    n_vecs = similarity.spread(
        similarity.load_table(spark, sf_dir, "embeddings")
    ).count()
    assert len(codes) == n_vecs
    books = np.array(similarity._pq_books(sf_dir))
    for r in codes:
        assert len(r["codes"]) == similarity.PQ_M
        assert all(0 <= c < similarity.PQ_K for c in r["codes"])
        want = sum(
            float(np.dot(books[m][c], books[m][c]))
            for m, c in enumerate(r["codes"])
        )
        assert abs(r["approx_norm2"] - want) < 1e-9


def test_pq_beats_ivf_recall_on_this_corpus(spark, sf_dir):
    """The q_ann routing claim, pinned: PQ+re-rank mean recall@10 >= IVF's
    on the test corpus (0.99 vs 0.59 measured at sf0.01 with the round-4
    M=16 codebooks)."""
    rows = similarity.q_ann_recall(spark, sf_dir).collect()
    mean = {}
    for r in rows:
        mean.setdefault(r["method"], []).append(r["n_hits"])
    mean = {m: sum(v) / (len(v) * similarity.TOP_K) for m, v in mean.items()}
    assert mean["pq"] >= mean["ivf"] >= 0.3, mean


def test_round4_recall_floors(spark, sf_dir):
    """Round-4 recall contract, pinned as regression floors: the routed
    general-ANN default (PQ, M=16 codebooks) holds mean recall@10 >= 0.8
    (measured 0.99/0.94 at sf0.01/sf0.1), and multi-probe IVF-ADC
    (IVF_PQ_NPROBE=8) >= 0.6 (measured 0.80/0.77 — up from 0.59/0.47 at
    nprobe 4). Floors sit below the measured values by a margin so codebook
    retraining noise doesn't flake the suite, while a real regression (the
    round-3 numbers) still fails."""
    rows = similarity.q_ann_recall(spark, sf_dir).collect()
    mean = {}
    for r in rows:
        mean.setdefault(r["method"], []).append(r["n_hits"])
    mean = {m: sum(v) / (len(v) * similarity.TOP_K) for m, v in mean.items()}
    assert mean["pq"] >= 0.8, mean
    assert mean["ivf_pq"] >= 0.6, mean
    # multi-probe must dominate the candidate-capped single-rate path
    assert mean["ivf_pq"] >= mean["ivf"], mean


def test_pack_sequences_invariants(spark, sf_dir):
    """Packing contract: every doc assigned exactly once; no sequence
    exceeds capacity unless it holds a single oversized doc; sequence ids
    are dense per shard; packing wastes little capacity (next-fit-
    decreasing utilization floor)."""
    from ph_ee_nats_importer_rdbms_spark.analytics import training

    rows = training.q_pack_sequences(spark, sf_dir).collect()
    n_docs = (
        training.load_table(spark, sf_dir, "documents").select("doc_id").count()
    )
    assert len(rows) == n_docs
    assert len({r["doc_id"] for r in rows}) == n_docs

    fills: dict[tuple, int] = {}
    counts: dict[tuple, int] = {}
    for r in rows:
        key = (r["shard_id"], r["seq_id"])
        fills[key] = fills.get(key, 0) + r["n_tokens"]
        counts[key] = counts.get(key, 0) + 1
    for key, fill in fills.items():
        assert fill <= training.PACK_CAPACITY or counts[key] == 1, (key, fill)
    # dense per-shard sequence ids (0..max with no gaps)
    per_shard: dict[int, set] = {}
    for shard, seq in fills:
        per_shard.setdefault(shard, set()).add(seq)
    for shard, seqs in per_shard.items():
        assert seqs == set(range(max(seqs) + 1)), shard
    # NFD on docs << capacity packs well: mean fill of CLOSED sequences
    closed = [
        fill
        for (shard, seq), fill in fills.items()
        if seq < max(per_shard[shard])
    ]
    if closed:
        assert sum(closed) / len(closed) >= 0.6 * training.PACK_CAPACITY


def test_ivf_pq_store_prunes_and_matches_inline(spark, sf_dir, tmp_path):
    """The IndexIVFPQ serving layout: codes + norms stored inside the
    cluster-partitioned lists; the from-store search partition-prunes the
    scan and matches the inline q_ann_ivf_pq results exactly."""
    from ph_ee_nats_importer_rdbms_spark.analytics.similarity import (
        ann_ivf_pq_from_store,
        q_ann_ivf_pq,
        save_ivf_store,
    )

    store = str(tmp_path / "ivfpq_store")
    save_ivf_store(spark, sf_dir, store, with_codes=True)

    got_df = ann_ivf_pq_from_store(spark, sf_dir, store)
    plan = got_df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        got_df._jdf.queryExecution(), "formatted"
    )
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("cluster_id" in ln for ln in pf), plan

    got = sorted(tuple(r) for r in got_df.collect())
    want = sorted(tuple(r) for r in q_ann_ivf_pq(spark, sf_dir).collect())
    assert got == want and got


def test_mixture_sample_rates_and_nesting(spark, sf_dir):
    """Kept fraction tracks each source's declared rate, the assignment is
    deterministic, and lowering a rate yields a strict subset (nesting)."""
    from ph_ee_nats_importer_rdbms_spark.analytics import training as tr

    got = tr.q_mixture_sample(spark, sf_dir).collect()
    assert got
    tiers = set(tr.MIXTURE_TIERS_BP)
    assert {r["rate_bp"] for r in got} <= tiers

    totals = {
        r["source"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    kept: dict[str, int] = {}
    rate: dict[str, int] = {}
    for r in got:
        kept[r["source"]] = kept.get(r["source"], 0) + 1
        rate[r["source"]] = r["rate_bp"]
    for src, n_kept in kept.items():
        expect = rate[src] / 10000
        assert n_kept <= totals[src]
        # loose Bernoulli bound on tiny per-source counts
        assert abs(n_kept / totals[src] - expect) < 0.35

    again = tr.q_mixture_sample(spark, sf_dir).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))

    # nesting: a half-rate variant of the same hash keeps a subset
    half = {
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .filter(
            F.expr(
                tr.spark_h32(
                    f"concat('{tr.MIXTURE_SALT}', CAST(doc_id AS STRING))"
                )
            )
            % 10000
            < F.expr(tr._MIX_TIER_SQL) / 2
        )
        .select("doc_id")
        .collect()
    }
    full = {r["doc_id"] for r in got}
    assert half < full


def test_pii_redact_scrubs_long_numbers(spark, sf_dir):
    """Every customer name carries a nine-digit run; after redaction no
    long-number span survives and counts agree with what was replaced."""
    from ph_ee_nats_importer_rdbms_spark.analytics import pii

    out = pii.q_pii_redact(spark, sf_dir)
    n = out.count()
    assert n > 0
    bad = out.filter(F.col("redacted").rlike(pii.LONGNUM_RE)).count()
    assert bad == 0
    assert out.filter(F.col("n_id") < 1).count() == 0
    assert out.filter(~F.col("redacted").contains(pii.LONGNUM_TOKEN)).count() == 0
    # corpus fact: no email/phone-shaped spans exist — verified zero
    zeros = out.agg(
        F.sum("n_email").alias("e"), F.sum("n_phone").alias("p")
    ).collect()[0]
    assert (zeros["e"], zeros["p"]) == (0, 0)


def test_pii_redact_docs_boundary_guard_and_counts(spark, sf_dir):
    """The documents-prose scrubber: every row plants one email, one
    standalone 10-digit account (must redact), and one letter-glued digit
    run (must NOT redact — the word-boundary guard); counts must say
    exactly that, and the glued run must survive verbatim."""
    from ph_ee_nats_importer_rdbms_spark.analytics import pii

    out = pii.q_pii_redact_docs(spark, sf_dir)
    rows = out.collect()
    assert rows
    for r in rows:
        assert r["n_email"] == 1 and r["n_phone"] == 0 and r["n_id"] == 1
        assert pii.EMAIL_TOKEN in r["redacted"]
        assert pii.LONGNUM_TOKEN in r["redacted"]
        # the boundary-guarded run (ref<digits>x) is untouched
        assert " ref2" in r["redacted"] and r["redacted"].endswith("x end")


def test_pii_counts_are_replacements_performed_not_raw_occurrences(spark):
    """ADVICE r3: a digit run consumed by the [EMAIL] replacement must not
    also count as a redacted id — counts run on the intermediate text each
    rewrite saw. The local part here contains a 9-digit run that only
    exists inside the email span."""
    from ph_ee_nats_importer_rdbms_spark.analytics import pii

    sdf = spark.createDataFrame(
        [(1, "reach me at 123456789a@mail.example or 999888777 666")],
        "id long, t string",
    )
    r = sdf.select(*pii.redaction_exprs(F.col("t"))).collect()[0]
    assert r["n_email"] == 1
    # only the standalone 9-digit run counts; the one inside the email
    # local part was consumed by [EMAIL] before the id pass ran
    assert r["n_id"] == 1
    assert r["redacted"] == "reach me at [EMAIL] or [ID] 666"


def test_rolling_spend_matches_bruteforce(spark, sf_dir):
    """RANGE-frame trailing window equals the quadratic definition —
    checked per row against an in-memory brute force over all purchases."""
    from ph_ee_nats_importer_rdbms_spark.plans.queries import _q_rolling_spend

    got = {r["event_id"]: r for r in _q_rolling_spend(spark, sf_dir).collect()}
    assert got
    purchases = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", F.unix_millis("ts").alias("ts_ms"), "value")
        .collect()
    )
    by_user: dict[int, list] = {}
    for p in purchases:
        by_user.setdefault(p["user_id"], []).append(p)
    for p in purchases:
        frame = [
            q
            for q in by_user[p["user_id"]]
            if p["ts_ms"] - 7 * 86400000 <= q["ts_ms"] <= p["ts_ms"]
        ]
        r = got[p["event_id"]]
        assert r["n_7d"] == len(frame)
        assert abs(r["spend_7d"] - round(sum(q["value"] for q in frame), 2)) < 1e-6


def test_pii_regex_parity_on_adversarial_text(spark):
    """The Java∩RE2 syntax-subset claim, fuzzed: both engines must agree
    byte-for-byte on redaction output AND counts over adversarial inputs
    (real emails/phones, near-misses, unicode, regex metacharacters,
    pattern adjacency), plus seeded pseudo-random char soup."""
    import random

    import duckdb

    from ph_ee_nats_importer_rdbms_spark.analytics import pii

    crafted = [
        "a.b+c_d%e@mail.example.co alongside 12-345-678-9012",
        "no-pii here, just words.",
        "x@y.z too-short-tld, @missing.local, user@@double.com",
        "123456789 and 12345678 and 1234567890123456789",
        "phone 12-345-678-9012x overlap 912-345-678-9012",
        "unicode: héllo wörld ☃ 你好 user@exämple.com",
        "metachars: a+b*c?d|e(f)g[h]i{j}k\\l^m$n",
        "adjacent:user@a.bc12-345-678-901299999999999tail",
        "dots...everywhere...a@b.cd...",
        "tabs\tand\nnewlines user@t.io 98-765-432-1098",
        "",
        "@", ".", "-", "@.",
    ]
    rng = random.Random(0x511)
    alphabet = "ab1@.-_ %+\t"
    soup = [
        "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 60)))
        for _ in range(150)
    ]
    rows = [(i, s) for i, s in enumerate(crafted + soup)]

    sdf = spark.createDataFrame(rows, "id long, t string")
    got = (
        sdf.select("id", *pii.redaction_exprs(F.col("t")))
        .orderBy("id")
        .collect()
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE fz (id BIGINT, t VARCHAR)")
    con.executemany("INSERT INTO fz VALUES (?, ?)", rows)
    want = con.execute(
        f"SELECT id, {pii.duck_redaction_sql('t')} FROM fz ORDER BY id"
    ).fetchall()

    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert tuple(g) == tuple(w), (g, w, rows[g["id"]])


def test_corpus_report_totals_are_consistent(spark, sf_dir):
    """Dataset-card sanity: every (source, lang) row's kept + rejects sum
    to its doc count, token budgets are ordered, and global doc totals
    match the corpus."""
    from ph_ee_nats_importer_rdbms_spark.analytics.text import q_corpus_report

    rows = q_corpus_report(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert (
            r["n_kept"]
            + r["n_rej_lang"]
            + r["n_rej_quality"]
            + r["n_rej_repetition"]
            + r["n_rej_duplicate"]
            == r["n_docs"]
        )
        assert 0 <= r["kept_ws_tokens"] <= r["total_ws_tokens"]
        assert 0.0 <= r["kept_frac"] <= 1.0
        assert 0.0 <= r["mean_quality"] <= 1.0
    n_total = sum(r["n_docs"] for r in rows)
    assert n_total == load_table(spark, sf_dir, "documents").count()


def test_length_percentiles_approx_within_rank_bound(spark, sf_dir):
    """percentile_approx must return an actual per-lang n_chars value
    whose rank is within the documented GK bound (n/accuracy + 1) of the
    target rank — the gate for the sketch twin of the exact operator."""
    from ph_ee_nats_importer_rdbms_spark.analytics import training as tr

    approx = {r["lang"]: r for r in tr.q_length_percentiles_approx(spark, sf_dir).collect()}
    assert approx
    by_lang: dict[str, list[int]] = {}
    for r in (
        load_table(spark, sf_dir, "documents").select("lang", "n_chars").collect()
    ):
        by_lang.setdefault(r["lang"], []).append(r["n_chars"])
    assert set(approx) == set(by_lang)
    for lang, vals in by_lang.items():
        vals.sort()
        n = len(vals)
        tol = n / tr.APPROX_PCT_ACCURACY + 1
        for q, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            got = approx[lang][col]
            assert got in vals, (lang, col, got)
            # nearest-rank window of this value among duplicates
            lo = vals.index(got)
            hi = n - 1 - vals[::-1].index(got)
            target = q * (n - 1)
            dist = 0.0 if lo <= target <= hi else min(
                abs(lo - target), abs(hi - target)
            )
            assert dist <= tol, (lang, col, got, target, lo, hi)


def test_length_percentiles_approx_gate_trips_on_a_broken_sketch(spark):
    """The driver-gate entry (rank_check) must actually be able to fail:
    a claimed p50 at the corpus maximum flips within_rank_bound, and a
    value absent from the corpus flips is_corpus_value — so a GK-bound
    violation would turn the CORRECTNESS row red, not pass silently."""
    from pyspark.sql import functions as F

    from ph_ee_nats_importer_rdbms_spark.analytics import training as tr

    d = spark.createDataFrame(
        [("en", i) for i in range(1, 101)], "lang string, n_chars int"
    )
    claims = spark.createDataFrame(
        [
            ("en", 100, 0.5, 50.0),  # true median -> both booleans true
            ("en", 100, 0.9, 100.0),  # corpus max claimed as p90: rank off
            ("en", 100, 0.99, 250.0),  # not a corpus value at all
        ],
        "lang string, n_docs long, pct double, v double",
    )
    got = {
        r["pct"]: r for r in tr.rank_check(d, claims).collect()
    }
    assert got[0.5]["within_rank_bound"] and got[0.5]["is_corpus_value"]
    assert not got[0.9]["within_rank_bound"] and got[0.9]["is_corpus_value"]
    assert not got[0.99]["is_corpus_value"]
    # and the real entry over real data is all-true (the oracle's claim)
    real = tr.q_length_percentiles_approx_check(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert real and all(
        r["within_rank_bound"] and r["is_corpus_value"] for r in real
    )


# ---------------------------------------------------------------------------
# Round-4 operator properties (chunking coverage, sampling determinism)
# ---------------------------------------------------------------------------


def test_chunks_cover_every_token_with_promised_overlap(spark, sf_dir):
    """Structural contract of chunk_documents: per doc, chunk k starts at
    k·stride, windows tile the token range completely (every token index
    in >=1 chunk), only the last chunk may be short, and its window
    reaches the document's end."""
    from pyspark.sql import functions as F

    from ph_ee_nats_importer_rdbms_spark.analytics.text import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        q_chunk_documents,
        q_token_counts,
    )

    chunks = q_chunk_documents(spark, sf_dir)
    n_tok = q_token_counts(spark, sf_dir).select(
        "doc_id", F.col("n_ws_tokens").alias("n")
    )
    per_doc = (
        chunks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.max("start_tok").alias("last_start"),
            F.max(F.col("start_tok") + F.col("n_tok")).alias("covered_end"),
            F.min("n_tok").alias("min_len"),
        )
        .join(n_tok, "doc_id")
    )
    bad = per_doc.filter(
        # starts are 0..(k-1)*stride — max start pins the ladder
        (F.col("last_start") != (F.col("k") - 1) * CHUNK_STRIDE)
        # full coverage: the furthest window end is exactly the doc end
        | (F.col("covered_end") != F.col("n"))
        # every non-final chunk is full-width: the shortest chunk is the
        # last one, and the second-shortest must be CHUNK_TOKENS
        | (
            (F.col("k") > 1)
            & (F.col("min_len") + CHUNK_STRIDE <= F.col("n"))
            & (F.col("min_len") > CHUNK_TOKENS)
        )
    )
    assert bad.count() == 0
    # overlap really happens on this corpus: some doc has >1 chunk
    assert per_doc.filter(F.col("k") > 1).count() > 0


def test_importance_sample_is_partitioning_invariant(spark, sf_dir):
    """The hash-Bernoulli keep set must be a pure function of the data —
    identical under arbitrary repartitioning (no RNG state, no
    rowid/partition dependence)."""
    from ph_ee_nats_importer_rdbms_spark.analytics.training import (
        q_importance_sample,
    )

    from ph_ee_nats_importer_rdbms_spark.analytics import training as tr

    base = {r["doc_id"] for r in q_importance_sample(spark, sf_dir).collect()}

    orig = tr.load_table  # the binding q_importance_sample actually calls

    def shuffled(spark_, sf_dir_, name):
        df = orig(spark_, sf_dir_, name)
        return df.repartition(7) if name == "documents" else df

    try:
        tr.load_table = shuffled
        again = {
            r["doc_id"] for r in tr.q_importance_sample(spark, sf_dir).collect()
        }
    finally:
        tr.load_table = orig
    assert again == base and base, "non-empty and partitioning-invariant"
