"""Incremental curation store (analytics/incremental_curation.py).

Parity contract: after any sequence of batch appends, ``read_curation``
equals the from-scratch whole-corpus verdict — checked both against a
one-batch store build AND against the oracle-checked registry query
``q_curation`` itself (same metric transforms, same shared cascade, same
near-dup pipeline), so the incremental path cannot drift from the
verified batch path.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ph_ee_nats_importer_rdbms_spark.analytics import incremental_curation as cur
from ph_ee_nats_importer_rdbms_spark.sources.files import load_table


import pytest

pytestmark = pytest.mark.slow  # heavy Spark gate; default selection skips (pytest.ini), round-close runs all


def _verdicts(df) -> set:
    return {
        (r["doc_id"], r["reject_reason"], r["kept"]) for r in df.collect()
    }


def test_store_build_matches_registry_query_on_real_corpus(
    spark, sf_dir, tmp_path
):
    """A store built from the whole sf0.001 corpus must reproduce the
    oracle-checked q_curation verdict row for row."""
    from ph_ee_nats_importer_rdbms_spark.analytics.text import q_curation

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    root = str(tmp_path / "cur")
    cur.build_curation_store(spark, docs, root)
    assert _verdicts(cur.read_curation(spark, root)) == _verdicts(
        q_curation(spark, sf_dir)
    )


def test_append_matches_full_rebuild_on_real_corpus(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    first = docs.filter(~docs.source.isin("src0", "src1")).drop("source")
    second = docs.filter(docs.source.isin("src0", "src1")).drop("source")

    root = str(tmp_path / "inc")
    cur.build_curation_store(spark, first, root)
    cur.append_curation_batch(spark, second, root)

    full = str(tmp_path / "full")
    cur.build_curation_store(spark, docs.drop("source"), full)

    got = _verdicts(cur.read_curation(spark, root))
    assert got == _verdicts(cur.read_curation(spark, full))
    # the corpus actually exercises every branch worth having
    reasons = {r for _, r, _ in got}
    assert "duplicate" in reasons, "planted near-dups must reject"


@st.composite
def _batches(draw):
    """Small synthetic corpora biased toward near-dup bridges and
    every reject reason: lang (non-lexicon gibberish), repetition
    (one token repeated), duplicate (template copies across batches)."""
    vocab = ["the", "and", "is", "alpha", "beta", "gamma", "delta", "zeta"]
    base = draw(
        st.lists(
            st.lists(st.sampled_from(vocab), min_size=5, max_size=8),
            min_size=2,
            max_size=3,
        )
    )
    n_batches = draw(st.integers(2, 3))
    batches = [[] for _ in range(n_batches)]
    doc_id = 0

    def put(words):
        nonlocal doc_id
        batches[draw(st.integers(0, n_batches - 1))].append(
            (doc_id, " ".join(words), "en")
        )
        doc_id += 1

    for words in base:
        for _ in range(draw(st.integers(1, 3))):
            w = list(words)
            if draw(st.booleans()) and len(w) > 5:
                w[draw(st.integers(0, len(w) - 1))] = draw(st.sampled_from(vocab))
            put(w)
    if draw(st.booleans()):
        put(["xqzt", "vwpl", "qqrr", "zzyy", "wwkk"])  # lang reject
    if draw(st.booleans()):
        put(["the"] * 12)  # repetition reject
    for i, b in enumerate(batches):
        if not b:
            put([f"filler{i}", "the", "is", "and", "alpha"])
            # put() may have landed it in another batch; pad directly
    return [b for b in batches if b]


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=_batches())
def test_fuzz_append_sequence_matches_full_rebuild(
    batches, spark, tmp_path_factory
):
    base = tmp_path_factory.mktemp("inccur")
    root, full = str(base / "inc"), str(base / "full")

    schema = "doc_id long, text string, lang string"
    cur.build_curation_store(
        spark, spark.createDataFrame(batches[0], schema), root
    )
    for b in batches[1:]:
        cur.append_curation_batch(spark, spark.createDataFrame(b, schema), root)

    union = [d for b in batches for d in b]
    cur.build_curation_store(spark, spark.createDataFrame(union, schema), full)

    assert _verdicts(cur.read_curation(spark, root)) == _verdicts(
        cur.read_curation(spark, full)
    )


def test_metrics_ride_the_same_transaction(spark, tmp_path):
    """A crashed append (no manifest) must leave metrics invisible along
    with everything else — simulated by writing artifacts without the
    commit step via a batch that raises on the re-delivery guard."""
    from ph_ee_nats_importer_rdbms_spark.analytics import batch_store as bs

    schema = "doc_id long, text string, lang string"
    root = str(tmp_path / "cur")
    cur.build_curation_store(
        spark,
        spark.createDataFrame([(1, "the quick alpha beta gamma", "en")], schema),
        root,
    )
    n0 = cur.read_curation(spark, root).count()
    # stage a second batch's dirs by hand (what a crash-before-commit
    # leaves behind), then confirm readers ignore them
    batch_docs = spark.createDataFrame(
        [(2, "the quick alpha beta delta", "en")], schema
    )
    bs.write_artifacts(
        root,
        "deadbeefdeadbeef",
        {
            "metrics": cur.metrics_of(batch_docs),
            "delivered": batch_docs.select("doc_id"),
        },
    )
    assert cur.read_curation(spark, root).count() == n0


def test_streaming_deliveries_fold_into_curation_store(
    spark, sf_dir, tmp_path
):
    """Document deliveries via Structured Streaming: parquet files landing
    in a directory stream through the foreachBatch sink; the final verdict
    equals a from-scratch store build, and replaying a committed batch is
    a no-op (exactly-once under checkpoint replay)."""
    import os

    from ph_ee_nats_importer_rdbms_spark.analytics import batch_store as bs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    first = docs.filter(docs.doc_id < 250)
    rest = docs.filter(docs.doc_id >= 250)
    root = str(tmp_path / "cur")
    cur.build_curation_store(spark, first, root)

    landing = str(tmp_path / "landing")
    rest.write.parquet(landing)
    stream = (
        spark.readStream.schema(rest.schema)
        .parquet(landing)
        .writeStream.foreachBatch(
            bs.foreach_batch_sink(cur.append_curation_batch, root)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination(120)

    full = str(tmp_path / "full")
    cur.build_curation_store(spark, docs, full)
    assert _verdicts(cur.read_curation(spark, root)) == _verdicts(
        cur.read_curation(spark, full)
    )

    # committed-batch replay (what a checkpoint replay delivers) is a no-op
    replay = next(
        b for b in bs.committed_batches(root) if b["batch"] != "base"
    )
    replay_df = spark.read.parquet(
        os.path.join(root, "delivered", replay["batch"])
    ).join(docs, "doc_id")
    out = cur.append_curation_batch(spark, replay_df, root, skip_committed=True)
    assert out == {"new_docs": 0, "skipped": True}
    assert _verdicts(cur.read_curation(spark, root)) == _verdicts(
        cur.read_curation(spark, full)
    )


def test_vocabulary_partials_merge_to_registry_query(spark, sf_dir, tmp_path):
    """Vocabulary from committed per-delivery partials equals the
    oracle-checked whole-corpus q_vocabulary row for row — summability
    rests on the store's disjoint-delivery guarantee."""
    from ph_ee_nats_importer_rdbms_spark.analytics.text import q_vocabulary

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    root = str(tmp_path / "cur")
    cur.build_curation_store(spark, docs.filter(docs.doc_id < 200), root)
    cur.append_curation_batch(
        spark, docs.filter((docs.doc_id >= 200) & (docs.doc_id < 350)), root
    )
    cur.append_curation_batch(spark, docs.filter(docs.doc_id >= 350), root)

    got = [tuple(r) for r in cur.read_vocabulary(spark, root).collect()]
    want = [tuple(r) for r in q_vocabulary(spark, sf_dir).collect()]
    assert got == want and len(got) > 0


def test_corpus_report_from_store_matches_registry_query(
    spark, sf_dir, tmp_path
):
    """The dataset card read from a multi-delivery store equals the
    oracle-checked q_corpus_report row for row (shared aggregate, shared
    cascade, store-maintained inputs)."""
    from ph_ee_nats_importer_rdbms_spark.analytics.text import q_corpus_report

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    root = str(tmp_path / "cur")
    cur.build_curation_store(spark, docs.filter(docs.doc_id < 250), root)
    cur.append_curation_batch(spark, docs.filter(docs.doc_id >= 250), root)

    got = {tuple(r) for r in cur.read_corpus_report(spark, root).collect()}
    want = {tuple(r) for r in q_corpus_report(spark, sf_dir).collect()}
    assert got == want and got


def test_bm25_from_store_matches_registry_query(spark, sf_dir, tmp_path):
    """BM25 served from committed per-delivery postings/length partials
    equals the oracle-checked whole-corpus q_bm25_search row for row
    (VERDICT r9 task #5) — the union-at-read identity rests on the
    store's disjoint-delivery guarantee, the scoring on the shared
    _bm25_score."""
    from ph_ee_nats_importer_rdbms_spark.analytics.search import (
        q_bm25_search,
        read_bm25_search,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    root = str(tmp_path / "cur")
    cur.build_curation_store(spark, docs.filter(docs.doc_id < 200), root)
    cur.append_curation_batch(
        spark, docs.filter((docs.doc_id >= 200) & (docs.doc_id < 350)), root
    )
    cur.append_curation_batch(spark, docs.filter(docs.doc_id >= 350), root)

    got = {tuple(r) for r in read_bm25_search(spark, root).collect()}
    want = {tuple(r) for r in q_bm25_search(spark, sf_dir).collect()}
    assert got == want and len(got) > 0


def test_bm25_postings_ride_the_same_transaction(spark, tmp_path):
    """A re-delivered (already-committed) batch is a no-op for the BM25
    partials too — postings can never double-count a delivery whose
    band entries were deduplicated by the store's guard."""
    from ph_ee_nats_importer_rdbms_spark.analytics import batch_store as bs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta beta gamma delta epsilon zeta", "en"),
            (2, "alpha gamma delta epsilon zeta eta theta", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    batch = spark.createDataFrame(
        [(3, "beta beta beta gamma delta epsilon zeta", "en")],
        "doc_id long, text string, lang string",
    )
    root = str(tmp_path / "cur")
    cur.build_curation_store(spark, docs, root)
    cur.append_curation_batch(spark, batch, root)
    before = {
        tuple(r)
        for r in bs.read_union(
            spark, root, "bm25_plist", cur.BM25_PLIST_SCHEMA
        ).collect()
    }
    assert (3, "beta", 3, 7) in before  # dl pre-joined at append time
    from pyspark.sql import functions as F

    dfs = {
        r["token"]: int(r["sum(df)"])
        for r in bs.read_union(
            spark, root, "bm25_df", cur.BM25_DF_SCHEMA
        )
        .groupBy("token")
        .sum("df")
        .collect()
    }
    # summable partials: doc 1 (base) + doc 3 (append) contain "beta"
    assert dfs["beta"] == 2
    # replay the SAME delivery: skip_committed makes it a no-op
    cur.append_curation_batch(spark, batch, root, skip_committed=True)
    after = {
        tuple(r)
        for r in bs.read_union(
            spark, root, "bm25_plist", cur.BM25_PLIST_SCHEMA
        ).collect()
    }
    assert after == before


def test_vocab_churn_recorded_and_trips_needs_refresh(spark, tmp_path):
    """The staleness trip-wire (VERDICT r8 task #7), mirroring the recall
    monitor's shape: every append records head-of-vocabulary Jaccard vs
    the build-frozen reference in its commit manifest; a same-
    distribution delivery keeps the flag down, a vocabulary-shifted
    delivery trips it; a LATER delivery swinging the head back clears it
    (latest measurement wins — churn is not monotone)."""
    schema = "doc_id long, text string, lang string"
    # >VOCAB_TOP_K distinct tokens per family, so the head is a genuine
    # top-k CUT (equal counts, deterministic token-asc tie-break) and a
    # dominance swing actually replaces it
    base_text = " ".join(f"w{i:03d}" for i in range(150))
    shift_text = " ".join(f"x{i:03d}" for i in range(150))

    root = str(tmp_path / "vocab")
    cur.build_curation_store(
        spark,
        spark.createDataFrame(
            [(i, base_text, "en") for i in range(20)], schema
        ),
        root,
    )
    # the build manifest carries the frozen head: w000..w099
    frozen = cur._frozen_vocab_head(root)
    assert frozen and "w000" in frozen and "w120" not in frozen

    # same-distribution delivery: head stable, no trip
    cur.append_curation_batch(
        spark,
        spark.createDataFrame([(100 + i, base_text, "en") for i in range(5)], schema),
        root,
    )
    assert not cur.vocab_needs_refresh(spark, root)

    # vocabulary-shifted flood: the head churns past the threshold
    # (delivery sizes stay small — identical texts make the near-dup
    # append quadratic in the delivery, and dominance only needs ratios)
    cur.append_curation_batch(
        spark,
        spark.createDataFrame(
            [(200 + i, shift_text, "en") for i in range(120)], schema
        ),
        root,
    )
    report = {r["seq"]: r for r in cur.vocab_churn_report(spark, root).collect()}
    assert report[1]["needs_refresh"] is False
    assert report[2]["needs_refresh"] is True
    assert report[2]["jaccard"] < cur.VOCAB_REFRESH_JACCARD
    assert cur.vocab_needs_refresh(spark, root)

    # base vocabulary floods back: head returns, latest measurement clears
    cur.append_curation_batch(
        spark,
        spark.createDataFrame(
            [(1000 + i, base_text, "en") for i in range(200)], schema
        ),
        root,
    )
    assert not cur.vocab_needs_refresh(spark, root)


def test_nb_drift_recorded_and_trips_needs_refresh(spark, tmp_path):
    """The classifier drift trip-wire (VERDICT r9 task #6): the build
    freezes the NB model + its distillation agreement; every append
    records the frozen model's agreement on ITS docs; a delivery where
    the weak labeler and the frozen weights diverge trips the flag, and
    a later on-distribution delivery clears it (latest wins)."""
    schema = "doc_id long, text string, lang string"
    # weak labels pinned by probe: good -> True (0.706), bad -> False
    good = (
        "the quick brown fox jumps over the lazy dog and then it runs to"
        " the old mill where the miller was waiting with a bag of grain"
        " for the horse and the cart on the road to town"
    )
    bad = (
        "zzz9 ### $$$ %% xx!!! ??? @@@ ++++ ==== |||| ~~~~ ^^^^ &&&&"
        " **** (((( )))) zz31 qq47"
    )
    # no weights: the frozen model always predicts True — agreement is
    # then exactly the fraction of weak-positive docs in the delivery
    model = {"prior_micros": 1_000_000, "weights": {}}

    root = str(tmp_path / "nb")
    cur.build_curation_store(
        spark,
        spark.createDataFrame([(i, good, "en") for i in range(10)], schema),
        root,
        nb_model=model,
    )
    frozen = cur._frozen_nb(root)
    assert frozen is not None and frozen[1] == 1.0

    # on-distribution delivery: agreement holds, no trip
    cur.append_curation_batch(
        spark,
        spark.createDataFrame(
            [(100 + i, good, "en") for i in range(5)], schema
        ),
        root,
    )
    assert not cur.nb_needs_refresh(spark, root)

    # shifted delivery: weak labels flip, the frozen weights don't
    cur.append_curation_batch(
        spark,
        spark.createDataFrame(
            [(200 + i, bad, "en") for i in range(8)], schema
        ),
        root,
    )
    report = {r["seq"]: r for r in cur.nb_drift_report(spark, root).collect()}
    assert report[1]["needs_refresh"] is False
    assert report[2]["needs_refresh"] is True
    assert report[2]["agreement"] < cur.NB_REFRESH_RATIO * report[2]["ref_agreement"]
    assert cur.nb_needs_refresh(spark, root)

    # back on distribution: latest measurement clears the flag
    cur.append_curation_batch(
        spark,
        spark.createDataFrame(
            [(300 + i, good, "en") for i in range(5)], schema
        ),
        root,
    )
    assert not cur.nb_needs_refresh(spark, root)


def test_bpe_pair_churn_recorded_and_trips_needs_refresh(spark, tmp_path):
    """The merge-table drift trip-wire (VERDICT r9 task #6), the vocab
    churn's twin over the iteration-0 pair statistic: a character-
    distribution-shifted flood churns the frozen pair head past the
    threshold; a later base flood swings it back (latest wins)."""
    schema = "doc_id long, text string, lang string"
    # 150 distinct intra-word character pairs per family, disjoint
    # families — the top-50 head is a genuine cut and floods displace it
    base_text = " ".join(a + b for a in "abcdefghij" for b in "abcdefghijklmno")
    shift_text = " ".join(a + b for a in "nopqrstuvw" for b in "klmnopqrstuvwxy")

    root = str(tmp_path / "bpe")
    cur.build_curation_store(
        spark,
        spark.createDataFrame(
            [(i, base_text, "en") for i in range(20)], schema
        ),
        root,
    )
    frozen = cur._frozen_pair_head(root)
    assert frozen and len(frozen) == cur.BPE_PAIR_HEAD_K
    assert ["a", "a"] in frozen

    cur.append_curation_batch(
        spark,
        spark.createDataFrame(
            [(100 + i, base_text, "en") for i in range(5)], schema
        ),
        root,
    )
    assert not cur.bpe_needs_refresh(spark, root)

    cur.append_curation_batch(
        spark,
        spark.createDataFrame(
            [(200 + i, shift_text, "en") for i in range(120)], schema
        ),
        root,
    )
    report = {
        r["seq"]: r for r in cur.bpe_pair_churn_report(spark, root).collect()
    }
    assert report[1]["needs_refresh"] is False
    assert report[2]["needs_refresh"] is True
    assert report[2]["jaccard"] < cur.BPE_REFRESH_JACCARD
    assert cur.bpe_needs_refresh(spark, root)

    cur.append_curation_batch(
        spark,
        spark.createDataFrame(
            [(1000 + i, base_text, "en") for i in range(200)], schema
        ),
        root,
    )
    assert not cur.bpe_needs_refresh(spark, root)


def test_artifact_drift_unknown_on_pre_upgrade_store(spark, tmp_path):
    """A store whose manifests predate the NB/BPE records surfaces NULL
    metrics with NULL flags — unknown, not healthy — and never trips on
    absence of evidence (same contract as the vocab churn monitor)."""
    from ph_ee_nats_importer_rdbms_spark.analytics import incremental_docs as inc

    schema = "doc_id long, text string, lang string"
    root = str(tmp_path / "legacy2")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "en")], schema
    )
    inc.build_index(
        spark,
        docs,
        root,
        extra={
            "metrics": cur.metrics_of(docs),
            "vocab_partial": cur.vocab_partial_of(docs),
        },
    )
    cur.append_curation_batch(
        spark,
        spark.createDataFrame([(2, "alpha beta gamma delta", "en")], schema),
        root,
    )
    assert all(
        r["needs_refresh"] is None
        for r in cur.nb_drift_report(spark, root).collect()
    )
    assert all(
        r["needs_refresh"] is None
        for r in cur.bpe_pair_churn_report(spark, root).collect()
    )
    assert not cur.nb_needs_refresh(spark, root)
    assert not cur.bpe_needs_refresh(spark, root)


def test_vocab_churn_unknown_on_pre_upgrade_store(spark, tmp_path):
    """A store whose manifests predate the churn record (no vocab_head)
    surfaces NULL metrics with a NULL flag — unknown, not healthy — and
    never trips the refresh flag on absence of evidence."""
    from ph_ee_nats_importer_rdbms_spark.analytics import incremental_docs as inc

    schema = "doc_id long, text string, lang string"
    root = str(tmp_path / "legacy")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "en")], schema
    )
    inc.build_index(
        spark,
        docs,
        root,
        extra={
            "metrics": cur.metrics_of(docs),
            "vocab_partial": cur.vocab_partial_of(docs),
        },
    )
    cur.append_curation_batch(
        spark,
        spark.createDataFrame([(2, "alpha beta gamma delta", "en")], schema),
        root,
    )
    rows = cur.vocab_churn_report(spark, root).collect()
    assert all(r["needs_refresh"] is None for r in rows)
    assert not cur.vocab_needs_refresh(spark, root)


def test_bm25_read_memoizes_per_manifest_and_append_invalidates(
    spark, tmp_path, monkeypatch
):
    """The store read path memoizes its query-term set + corpus stats
    per (root, manifest fingerprint) (VERDICT r10 task #5): a warm call
    runs ZERO driver collects inside read_bm25_search (the only job is
    the caller's materialization of the returned plan), and an append —
    which writes a new manifest — invalidates the key, so the next read
    scores against the grown corpus, byte-identical to a fresh store of
    the same docs."""
    import pyspark.sql.classic.dataframe as cdf

    from ph_ee_nats_importer_rdbms_spark.analytics.search import (
        read_bm25_search,
    )

    schema = "doc_id long, text string, lang string"
    rows = [
        (i, f"alpha beta gamma token{i % 7} delta epsilon", "en")
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, schema)
    root = str(tmp_path / "cur")
    cur.build_curation_store(spark, docs.filter(docs.doc_id < 25), root)

    read_bm25_search(spark, root).collect()  # populates the cache

    actions: list[str] = []
    orig_collect, orig_first = cdf.DataFrame.collect, cdf.DataFrame.first

    def rec_collect(self, *a, **k):
        actions.append("collect")
        return orig_collect(self, *a, **k)

    def rec_first(self, *a, **k):
        actions.append("first")
        return orig_first(self, *a, **k)

    monkeypatch.setattr(cdf.DataFrame, "collect", rec_collect, raising=True)
    monkeypatch.setattr(cdf.DataFrame, "first", rec_first, raising=True)
    warm_df = read_bm25_search(spark, root)
    assert actions == [], (
        f"warm read_bm25_search ran driver actions {actions} — the "
        "memoized path must defer ALL work to the returned plan"
    )
    monkeypatch.undo()
    warm = {tuple(r) for r in warm_df.collect()}
    assert warm

    # append → new manifest → new cache key → the read sees the growth
    cur.append_curation_batch(spark, docs.filter(docs.doc_id >= 25), root)
    grown = {tuple(r) for r in read_bm25_search(spark, root).collect()}
    fresh_root = str(tmp_path / "cur_fresh")
    cur.build_curation_store(spark, docs, fresh_root)
    fresh = {tuple(r) for r in read_bm25_search(spark, fresh_root).collect()}
    assert grown == fresh and grown != warm


def test_bm25_read_rejects_pre_upgrade_store(spark, tmp_path):
    """A store whose committed batches predate the BM25 index partials
    gets a clear 'rebuild the store' error, not a raw parquet
    PATH_NOT_FOUND from the per-batch union (driver ADVICE r10)."""
    import pytest

    from ph_ee_nats_importer_rdbms_spark.analytics import incremental_docs
    from ph_ee_nats_importer_rdbms_spark.analytics.search import (
        read_bm25_search,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta", "en"), (2, "alpha beta zeta", "en")],
        "doc_id long, text string, lang string",
    )
    root = str(tmp_path / "plain")
    incremental_docs.build_index(spark, docs, root)  # no bm25 partials
    with pytest.raises(ValueError, match="predates the BM25 index"):
        read_bm25_search(spark, root)


def test_replay_short_circuits_before_monitoring_jobs(spark, tmp_path,
                                                      monkeypatch):
    """A skip_committed re-delivery is recognized by the digest probe
    BEFORE any monitoring statistics run (driver ADVICE r10): the
    replay never re-computes vocabulary/BPE partials or the NB
    agreement scan — pinned by making the partial builders explode."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta beta gamma delta epsilon zeta", "en"),
            (2, "alpha gamma delta epsilon zeta eta theta", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    batch = spark.createDataFrame(
        [(3, "beta beta beta gamma delta epsilon zeta", "en")],
        "doc_id long, text string, lang string",
    )
    root = str(tmp_path / "cur")
    cur.build_curation_store(spark, docs, root)
    cur.append_curation_batch(spark, batch, root)

    def boom(*a, **k):
        raise AssertionError(
            "monitoring partials computed on a committed replay"
        )

    monkeypatch.setattr(cur, "vocab_partial_of", boom)
    monkeypatch.setattr(cur, "bpe_pair_partial_of", boom)
    monkeypatch.setattr(cur, "_nb_agreement", boom)
    stats = cur.append_curation_batch(spark, batch, root,
                                      skip_committed=True)
    assert stats == {"new_docs": 0, "skipped": True}
