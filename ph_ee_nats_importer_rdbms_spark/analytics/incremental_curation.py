"""Incremental curation: the cleaned-corpus verdict maintained per
delivery, not per rebuild (VERDICT r3 ask #4, beyond pq/ivf).

``q_curation`` (analytics/text.py) composes four per-doc inputs — lang,
quality, repetition, near-dup keeper — into the keep/reject verdict a
pipeline ships. Three of the four are MAP-ONLY (each doc's lang/quality/
repetition depends on that doc alone), and the fourth (dup labels) is
exactly what the incremental near-dup index already maintains
(analytics/incremental_docs.py). So incremental curation is a
composition, not new machinery:

- Each delivery computes its own per-doc metrics (one map over the
  batch) and rides them on the near-dup store's transaction via the
  ``extra`` artifact hook — one commit manifest covers band entries,
  pairs, merged labels AND metrics, so a crash can never leave metrics
  visible without their labels or vice versa.
- ``read_curation`` joins the committed metric union against the current
  labeling and applies the SHARED verdict cascade
  (text.curation_verdict — one definition, zero policy drift).

Per-delivery cost: one map over the batch + the near-dup append's
candidate-proportional work. Never a corpus rescan — at 100 TB a
delivery's curation cost is the delivery's size, which is the whole
point.

Parity contract (tests/test_incremental_curation.py, fuzzed over random
batch splits): after any sequence of appends, ``read_curation`` equals
the from-scratch whole-corpus verdict built with the same metric
transforms and a full near-dup rebuild.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ph_ee_nats_importer_rdbms_spark.analytics import batch_store as bs
from ph_ee_nats_importer_rdbms_spark.analytics import incremental_docs
from ph_ee_nats_importer_rdbms_spark.analytics.text import (
    curation_verdict,
    lang_id_of,
    quality_of,
    repetition_of,
)

#: the per-doc metric artifact each batch stages next to its band entries
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_ws_tokens", T.LongType()),
        T.StructField("predicted_lang", T.StringType()),
        T.StructField("quality_score", T.DoubleType()),
        T.StructField("top_token_frac", T.DoubleType()),
        T.StructField("dup_bigram_frac", T.DoubleType()),
    ]
)


def metrics_of(docs: DataFrame) -> DataFrame:
    """The map-only per-doc curation inputs for ONE batch — verdict
    inputs plus the card dimensions (source, labeled lang, whitespace
    token count) the report reader aggregates. Four transforms over the
    same rows joined on doc_id — Catalyst collapses this to a single
    pass when the inputs share the scan. ``source`` is optional in the
    delivery (synthetic tests omit it); the card then groups under
    null."""
    from ph_ee_nats_importer_rdbms_spark.analytics.text import _tokens

    src = (
        F.col("source") if "source" in docs.columns else F.lit(None).cast("string")
    )
    dims = docs.select(
        "doc_id",
        src.alias("source"),
        F.col("lang"),
        F.size(_tokens()).cast("long").alias("n_ws_tokens"),
    )
    lang = lang_id_of(docs).select("doc_id", "predicted_lang")
    qual = quality_of(docs).select("doc_id", "quality_score")
    rep = repetition_of(docs).select(
        "doc_id", "top_token_frac", "dup_bigram_frac"
    )
    return (
        dims.join(lang, "doc_id").join(qual, "doc_id").join(rep, "doc_id")
    )


def build_curation_store(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    nb_model: dict | None = None,
) -> None:
    """Lay the store down from the initial corpus. The build FREEZES
    three references into the base commit manifest, each monitored per
    delivery against exactly the artifact consumers depend on:

    - the head-of-vocabulary (top-``VOCAB_TOP_K`` token set) — the rank
      reference ``token_ids`` and other tokenizer consumers derive from
      (VERDICT r8 task #7);
    - the NB quality model (``nb_model``; defaults to the shipped
      artifact's fallback entry — the staged builder passes the
      dataset's own ``model_for``) plus its build-time distillation
      agreement, the reference every delivery's agreement is ratioed
      against (VERDICT r9 task #6);
    - the head of the BPE iteration-0 pair statistic — the relation the
      frozen merge table was argmaxed over (VERDICT r9 task #6)."""
    from ph_ee_nats_importer_rdbms_spark.analytics.classifier import (
        model_for,
    )

    model = nb_model if nb_model is not None else model_for("")
    vp = vocab_partial_of(docs).localCheckpoint(eager=True)
    pp = bpe_pair_partial_of(docs).localCheckpoint(eager=True)
    manifest_extra: dict = {
        "vocab_head": _vocab_head(vp),
        "bpe_pair_head": _pair_head(pp),
    }
    agreement = _nb_agreement(docs, model)
    if agreement is not None:
        manifest_extra["nb_model"] = model
        manifest_extra["nb_agreement_ref"] = agreement
    incremental_docs.build_index(
        spark,
        docs,
        root,
        extra={
            "metrics": metrics_of(docs),
            "vocab_partial": vp,
            "bpe_pair_partial": pp,
            **bm25_partials_of(docs),
        },
        manifest_extra=manifest_extra,
    )


def append_curation_batch(
    spark: SparkSession,
    new_docs: DataFrame,
    root: str,
    skip_committed: bool = False,
) -> dict:
    """Fold one delivery in: batch metrics + near-dup append + the
    vocabulary-churn record, one transaction. Inherits the re-delivery
    guard and crash-safety of the underlying store (a retried crashed
    batch overwrites its own dirs).

    The churn record mirrors the embedding store's measured-recall
    monitor: the post-delivery head-of-vocabulary (committed partials ∪
    this delivery's partial, merged IN-FLIGHT — vocab-cardinality I/O,
    never a corpus re-tokenization) is Jaccard-compared against the
    frozen build-time head, and the number lands in this delivery's
    commit manifest where :func:`vocab_needs_refresh` thresholds it.

    A ``skip_committed`` re-delivery short-circuits BEFORE the
    monitoring jobs (vocab churn, BPE pair merge, NB agreement scan) —
    the checkpoint-replay no-op costs one digest probe, not a full
    pre-commit statistics pass (driver ADVICE r10)."""
    if skip_committed and bs.is_replay(new_docs, root, "doc_id"):
        return {"new_docs": 0, "skipped": True}
    vp = vocab_partial_of(new_docs).localCheckpoint(eager=True)
    pp = bpe_pair_partial_of(new_docs).localCheckpoint(eager=True)
    frozen = _frozen_vocab_head(root)
    manifest_extra: dict = {}
    if frozen is not None:
        committed_vp = bs.read_union(
            spark, root, "vocab_partial", VOCAB_PARTIAL_SCHEMA
        )
        cur = set(_vocab_head(committed_vp.unionByName(vp)))
        ref = set(frozen)
        union = len(cur | ref)
        j = (len(cur & ref) / union) if union else 1.0
        manifest_extra["vocab_churn"] = {
            "top_k": len(frozen),
            "jaccard": round(j, 4),
        }
    frozen_pairs = _frozen_pair_head(root)
    if frozen_pairs is not None:
        committed_pp = bs.read_union(
            spark, root, "bpe_pair_partial", BPE_PAIR_PARTIAL_SCHEMA
        )
        cur_p = {tuple(p) for p in _pair_head(committed_pp.unionByName(pp))}
        ref_p = {tuple(p) for p in frozen_pairs}
        union_p = len(cur_p | ref_p)
        jp = (len(cur_p & ref_p) / union_p) if union_p else 1.0
        manifest_extra["bpe_pair_churn"] = {
            "top_k": len(frozen_pairs),
            "jaccard": round(jp, 4),
        }
    frozen_nb = _frozen_nb(root)
    if frozen_nb is not None:
        agreement = _nb_agreement(new_docs, frozen_nb[0])
        if agreement is not None:
            manifest_extra["nb_agreement"] = agreement
    return incremental_docs.append_batch(
        spark,
        new_docs,
        root,
        extra={
            "metrics": metrics_of(new_docs),
            "vocab_partial": vp,
            "bpe_pair_partial": pp,
            **bm25_partials_of(new_docs),
        },
        skip_committed=skip_committed,
        manifest_extra=manifest_extra,
    )


def read_curation(spark: SparkSession, root: str) -> DataFrame:
    """The CURRENT whole-corpus verdict: committed metric union joined to
    the latest labeling, through the shared cascade. Labels carry only
    docs that appear in some near-dup pair; everything else is its own
    keeper (the left join + coalesce inside the cascade)."""
    metrics = bs.read_union(spark, root, "metrics", METRICS_SCHEMA)
    dup = (
        incremental_docs.read_labels(spark, root)
        .select(
            F.col("node").alias("doc_id"),
            (F.col("node") == F.col("label")).alias("is_keeper"),
        )
    )
    return curation_verdict(metrics.join(dup, "doc_id", "left"))


# ---------------------------------------------------------------------------
# BM25 index partials (keyword-retrieval statistic, maintained per delivery)
# ---------------------------------------------------------------------------

#: per-batch partial of the BM25 inverted index: the delivery's
#: (doc_id, token, tf, dl) postings with the document length PRE-JOINED
#: at append time (dl is per-doc constant, so the join is exact and
#: batch-local) — the read path scores straight off this relation with
#: no per-call tf⋈dl shuffle. Deliveries carry disjoint doc_ids (the
#: store's re-delivery guard enforces exactly that), so the union of
#: committed partials IS the whole-corpus postings relation.
BM25_PLIST_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("token", T.StringType()),
        T.StructField("tf", T.LongType()),
        T.StructField("dl", T.LongType()),
    ]
)

#: per-batch (token, df) document-frequency partial. Disjoint delivery
#: doc_ids make df plainly summable across batches, so the read side
#: merges K config-pruned partials instead of re-running the corpus-
#: sized count_distinct per query call — the aggregate that would be a
#: whole-index scan at 100 TB.
BM25_DF_SCHEMA = T.StructType(
    [
        T.StructField("token", T.StringType()),
        T.StructField("df", T.LongType()),
    ]
)

#: per-batch (doc_id, dl) document lengths — the corpus-stats inputs
#: (n_docs, avgdl); same disjoint-union-at-read semantics.
BM25_DL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("dl", T.LongType()),
    ]
)


def bm25_partials_of(docs: DataFrame) -> dict[str, DataFrame]:
    """One delivery's BM25 index partials — the same postings/length
    relations ``search._bm25_build`` derives from the whole corpus, cut
    at the batch boundary: dl-joined (doc_id, token, tf, dl) postings,
    (token, df) document-frequency partials, and (doc_id, dl) lengths
    (docs with zero tokens drop out of all three, as in the corpus
    build). Delivery-proportional cost: one tokenize + map-side-
    combinable aggregates + one batch-local join, riding the curation
    store's transaction so postings can never be committed without
    their frequencies (VERDICT r9 task #5; compaction per VERDICT r11
    task #2 — the read-time df recompute and tf⋈dl shuffle move to
    append time)."""
    from ph_ee_nats_importer_rdbms_spark.analytics.text import _tokens

    # localCheckpoint: the three artifacts are written as separate jobs,
    # and tf/dl each feed two of them — without the checkpoints the
    # delivery would re-tokenize ~4x (the same shape build_index already
    # uses for shingles/signatures). One tokenize + two aggregates total,
    # as documented.
    toks = docs.select(
        "doc_id", F.explode(_tokens()).alias("token")
    ).localCheckpoint(eager=True)
    tf = (
        toks.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    dl = (
        toks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dl"))
        .localCheckpoint(eager=True)
    )
    return {
        "bm25_plist": tf.join(dl, "doc_id").select(
            "doc_id", "token", "tf", "dl"
        ),
        "bm25_df": tf.groupBy("token").agg(
            F.count(F.lit(1)).alias("df")
        ),
        "bm25_dl": dl,
    }


# ---------------------------------------------------------------------------
# Vocabulary partials (tokenizer-input statistic, maintained per delivery)
# ---------------------------------------------------------------------------

#: per-batch partial of the corpus vocabulary: each delivery's
#: (token, occurrences, docs) rows — disjoint doc sets make both columns
#: plainly summable at read, so the merge is one map-side-combinable agg
#: over the committed partials, never a corpus re-tokenization.
VOCAB_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("token", T.StringType()),
        T.StructField("n_occurrences", T.LongType()),
        T.StructField("n_docs", T.LongType()),
    ]
)


def vocab_partial_of(docs: DataFrame) -> DataFrame:
    """One delivery's vocabulary partial — the same two-level aggregate
    as q_vocabulary's build (collapse per (token, doc) before the wire),
    cut at the batch boundary instead of the corpus."""
    per_doc = (
        docs.select("doc_id", F.explode(_metric_tokens()).alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_in_doc"))
    )
    return per_doc.groupBy("token").agg(
        F.sum("n_in_doc").alias("n_occurrences"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def read_vocabulary(spark: SparkSession, root: str, top_k: int | None = None):
    """The CURRENT corpus vocabulary from committed partials: sum the
    per-delivery counts (valid because deliveries carry disjoint doc_ids
    — the store's re-delivery guard enforces exactly that), then the same
    deterministic (count desc, token asc) top-k cut as q_vocabulary."""
    from pyspark.sql import Window

    from ph_ee_nats_importer_rdbms_spark.analytics.text import VOCAB_TOP_K

    k = top_k or VOCAB_TOP_K
    merged = (
        bs.read_union(spark, root, "vocab_partial", VOCAB_PARTIAL_SCHEMA)
        .groupBy("token")
        .agg(
            F.sum("n_occurrences").alias("n_occurrences"),
            F.sum("n_docs").alias("n_docs"),
        )
    )
    return (
        merged.orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(
                    F.col("n_occurrences").desc(), F.col("token").asc()
                )
            ),
        )
        .select("rank", "token", "n_occurrences", "n_docs")
    )


def _metric_tokens():
    from ph_ee_nats_importer_rdbms_spark.analytics.text import _tokens

    return _tokens()


# ---------------------------------------------------------------------------
# Vocabulary staleness trip-wire (VERDICT r8 task #7)
# ---------------------------------------------------------------------------

#: Head-of-vocabulary Jaccard below this trips ``vocab_needs_refresh``:
#: more than ~20% of the top-k token set a tokenizer consumer froze its
#: ranks on has churned out — re-derive the vocabulary artifacts
#: (token_ids maps, rank-based filters) before training on new packs.
VOCAB_REFRESH_JACCARD = 0.8

_VOCAB_CHURN_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.IntegerType()),
        T.StructField("batch", T.StringType()),
        T.StructField("top_k", T.IntegerType()),
        T.StructField("jaccard", T.DoubleType()),
        T.StructField("needs_refresh", T.BooleanType()),
    ]
)


def _vocab_head(partials: DataFrame, top_k: int | None = None) -> list[str]:
    """Top-k token SET of a (summed) vocabulary-partial relation — the
    deterministic (count desc, token asc) head, collected as a
    config-sized list (k = VOCAB_TOP_K = 100 strings)."""
    from ph_ee_nats_importer_rdbms_spark.analytics.text import VOCAB_TOP_K

    k = top_k or VOCAB_TOP_K
    merged = partials.groupBy("token").agg(
        F.sum("n_occurrences").alias("n_occurrences")
    )
    return [
        r["token"]
        for r in merged.orderBy(
            F.col("n_occurrences").desc(), F.col("token").asc()
        ).limit(k).collect()
    ]


def _frozen_vocab_head(root: str) -> list[str] | None:
    """The build-time frozen head from the commit manifests (the LATEST
    manifest carrying one, so a rebuild's fresh reference supersedes the
    original). None on pre-upgrade stores — churn is then unknown, not
    healthy, mirroring the recall monitor's no-stats contract."""
    head = None
    for m in bs.committed_batches(root):
        if "vocab_head" in m:
            head = m["vocab_head"]
    return head


def vocab_churn_report(spark: SparkSession, root: str) -> DataFrame:
    """Per-delivery head-of-vocabulary churn relation, thresholded into a
    ``needs_refresh`` flag — one row per committed append, computed
    entirely from the commit manifests (config-sized; no data scan). The
    vocabulary analog of the embedding store's ``structure_drift_report``:
    the frozen artifact here is the RANK REFERENCE tokenizer consumers
    derived from, and the monitored signal is how much of that head the
    corpus has churned away. Pre-upgrade deliveries carry no record and
    surface NULL metrics with a NULL flag (unknown, not healthy)."""
    rows = []
    for m in bs.committed_batches(root):
        if "vocab_head" in m and "vocab_churn" not in m:
            continue  # the build itself: churn vs itself is 1 by definition
        c = m.get("vocab_churn")
        if not c:
            rows.append((m["seq"], m["batch"], None, None, None))
            continue
        j = float(c["jaccard"])
        rows.append(
            (
                m["seq"],
                m["batch"],
                int(c["top_k"]),
                j,
                bool(j < VOCAB_REFRESH_JACCARD),
            )
        )
    return spark.createDataFrame(rows, _VOCAB_CHURN_SCHEMA)


def vocab_needs_refresh(spark: SparkSession, root: str) -> bool:
    """True when the LATEST recorded delivery's head churn is past the
    threshold. Unlike occupancy, churn is not monotone (a later delivery
    can swing the head back), so the newest measurement — not an ANY
    fold — is the current state. The remedy is consumer-side: re-derive
    rank-frozen artifacts against :func:`read_vocabulary`'s current
    head, then rebuild the store (a fresh build re-freezes the
    reference)."""
    measured = [
        r
        for r in vocab_churn_report(spark, root).collect()
        if r["needs_refresh"] is not None
    ]
    return bool(measured and measured[-1]["needs_refresh"])


# ---------------------------------------------------------------------------
# Frozen-artifact drift trip-wires: NB classifier + BPE merge table
# (VERDICT r9 task #6 — mirror the vocab-churn / recall-monitor shape)
# ---------------------------------------------------------------------------

#: latest delivery's distillation agreement below this FRACTION of the
#: build-time reference trips ``nb_needs_refresh``: the corpus the frozen
#: classifier weights were distilled on has shifted enough that the model
#: no longer reproduces the weak labeler it distills — retrain
#: (tools/train_nb_quality.py) before filtering new packs with it.
NB_REFRESH_RATIO = 0.8

#: head-of-pair-statistic Jaccard below this trips ``bpe_needs_refresh``:
#: more than ~20% of the top-k adjacent-symbol pairs the frozen merge
#: table was trained against have churned out — retrain the merges
#: (tools/train_bpe.py) before tokenizing new packs.
BPE_REFRESH_JACCARD = 0.8

#: per-batch partial of the BPE iteration-0 pair statistic: the
#: delivery's weighted adjacent character-pair counts. Word counts sum
#: across disjoint deliveries, so pair counts (linear in word counts)
#: sum too — merge-at-read is one map-side-combinable aggregate.
BPE_PAIR_PARTIAL_SCHEMA = T.StructType(
    [
        T.StructField("left_sym", T.StringType()),
        T.StructField("right_sym", T.StringType()),
        T.StructField("pair_count", T.LongType()),
    ]
)

#: pair-statistic head size (reference set the churn is measured over)
BPE_PAIR_HEAD_K = 50


def bpe_pair_partial_of(docs: DataFrame) -> DataFrame:
    """One delivery's iteration-0 BPE pair statistic — the same
    spaced-symbol explode as ``bpe.q_bpe_pair_counts``, cut at the batch
    boundary: delivery word counts, then weighted adjacent-pair sums
    over the vocabulary-sized relation."""
    from ph_ee_nats_importer_rdbms_spark.analytics.bpe import (
        _pairs_of,
        _spaced,
    )
    from ph_ee_nats_importer_rdbms_spark.analytics.text import _tokens

    words = (
        docs.select(F.explode(_tokens()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        words.select(
            F.split(F.trim(_spaced(F.col("word"))), "  ").alias("syms"),
            "cnt",
        )
        .select(F.explode(_pairs_of(F.col("syms"))).alias("p"), "cnt")
        .groupBy(
            F.col("p.l").alias("left_sym"), F.col("p.r").alias("right_sym")
        )
        .agg(F.sum("cnt").alias("pair_count"))
    )


def _pair_head(
    partials: DataFrame, top_k: int = BPE_PAIR_HEAD_K
) -> list[list[str]]:
    """Top-k (left_sym, right_sym) SET of a (summed) pair-partial
    relation — deterministic (count desc, l asc, r asc) head, collected
    as a config-sized list (k = BPE_PAIR_HEAD_K pairs)."""
    merged = partials.groupBy("left_sym", "right_sym").agg(
        F.sum("pair_count").alias("pair_count")
    )
    return [
        [r["left_sym"], r["right_sym"]]
        for r in merged.orderBy(
            F.col("pair_count").desc(),
            F.col("left_sym").asc(),
            F.col("right_sym").asc(),
        )
        .limit(top_k)
        .collect()
    ]


def _nb_agreement(docs: DataFrame, model: dict) -> dict | None:
    """Distillation agreement of a FROZEN NB model on one delivery:
    fraction of docs where the frozen weights' prediction matches the
    weak label they were distilled from — one map-only pass (the weak
    label and the token fold share the scan, exactly the serving
    entry's shape). None on an empty delivery."""
    from ph_ee_nats_importer_rdbms_spark.analytics.classifier import (
        NB_LABEL_THRESHOLD,
        nb_score_col,
    )
    from ph_ee_nats_importer_rdbms_spark.analytics.text import quality_of

    row = (
        quality_of(docs, keep=("text",))
        .select(
            (
                (nb_score_col(model) > 0)
                == (F.col("quality_score") >= NB_LABEL_THRESHOLD)
            )
            .cast("double")
            .alias("agree")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("agree").alias("agreement"),
        )
        .first()
    )
    if not row["n_docs"]:
        return None
    return {
        "n_docs": int(row["n_docs"]),
        "agreement": round(float(row["agreement"]), 4),
    }


def _frozen_nb(root: str) -> tuple[dict, float] | None:
    """(frozen model, build-time reference agreement) from the commit
    manifests — latest manifest carrying one wins, so a rebuild's fresh
    reference supersedes the original. None on pre-upgrade stores."""
    frozen = None
    for m in bs.committed_batches(root):
        if "nb_model" in m and "nb_agreement_ref" in m:
            frozen = (m["nb_model"], float(m["nb_agreement_ref"]["agreement"]))
    return frozen


def _frozen_pair_head(root: str) -> list[list[str]] | None:
    head = None
    for m in bs.committed_batches(root):
        if "bpe_pair_head" in m:
            head = m["bpe_pair_head"]
    return head


_NB_DRIFT_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.IntegerType()),
        T.StructField("batch", T.StringType()),
        T.StructField("n_docs", T.LongType()),
        T.StructField("agreement", T.DoubleType()),
        T.StructField("ref_agreement", T.DoubleType()),
        T.StructField("needs_refresh", T.BooleanType()),
    ]
)

_BPE_CHURN_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.IntegerType()),
        T.StructField("batch", T.StringType()),
        T.StructField("top_k", T.IntegerType()),
        T.StructField("jaccard", T.DoubleType()),
        T.StructField("needs_refresh", T.BooleanType()),
    ]
)


def nb_drift_report(spark: SparkSession, root: str) -> DataFrame:
    """Per-delivery distillation-agreement relation for the frozen NB
    weights, thresholded into ``needs_refresh`` — one row per committed
    append, computed entirely from commit manifests (config-sized, no
    data scan). Pre-upgrade deliveries surface NULLs (unknown, not
    healthy)."""
    rows = []
    ref = _frozen_nb(root)  # one manifest sweep, not one per row
    for m in bs.committed_batches(root):
        if "nb_agreement_ref" in m and "nb_agreement" not in m:
            continue  # the build itself: agreement vs itself is the ref
        a = m.get("nb_agreement")
        if not a or ref is None:
            rows.append((m["seq"], m["batch"], None, None, None, None))
            continue
        ag = float(a["agreement"])
        rows.append(
            (
                m["seq"],
                m["batch"],
                int(a["n_docs"]),
                ag,
                ref[1],
                bool(ag < NB_REFRESH_RATIO * ref[1]),
            )
        )
    return spark.createDataFrame(rows, _NB_DRIFT_SCHEMA)


def nb_needs_refresh(spark: SparkSession, root: str) -> bool:
    """True when the LATEST recorded delivery's agreement has fallen
    past the ratio threshold (latest wins — agreement is not monotone,
    a later on-distribution delivery clears the flag)."""
    measured = [
        r
        for r in nb_drift_report(spark, root).collect()
        if r["needs_refresh"] is not None
    ]
    return bool(measured and measured[-1]["needs_refresh"])


def bpe_pair_churn_report(spark: SparkSession, root: str) -> DataFrame:
    """Per-delivery pair-statistic churn relation for the frozen BPE
    merge table, thresholded into ``needs_refresh`` — the vocabulary
    churn's twin over the iteration-0 pair head (the statistic the
    first merge argmaxes over). Manifest-only read; pre-upgrade
    deliveries surface NULLs."""
    rows = []
    for m in bs.committed_batches(root):
        if "bpe_pair_head" in m and "bpe_pair_churn" not in m:
            continue  # the build itself
        c = m.get("bpe_pair_churn")
        if not c:
            rows.append((m["seq"], m["batch"], None, None, None))
            continue
        j = float(c["jaccard"])
        rows.append(
            (
                m["seq"],
                m["batch"],
                int(c["top_k"]),
                j,
                bool(j < BPE_REFRESH_JACCARD),
            )
        )
    return spark.createDataFrame(rows, _BPE_CHURN_SCHEMA)


def bpe_needs_refresh(spark: SparkSession, root: str) -> bool:
    """True when the LATEST recorded delivery's pair-head churn is past
    the threshold (latest measurement wins, as for vocabulary)."""
    measured = [
        r
        for r in bpe_pair_churn_report(spark, root).collect()
        if r["needs_refresh"] is not None
    ]
    return bool(measured and measured[-1]["needs_refresh"])


def read_corpus_report(spark: SparkSession, root: str) -> DataFrame:
    """The CURRENT dataset card from the store: committed metrics joined
    to the current verdict, through the aggregate SHARED with
    q_corpus_report (text.corpus_report_of) — per-(source, lang) doc/kept
    counts, rejection mix, mean quality, token budget before/after. Cost:
    one join on doc_id + one config-sized grouped aggregate; never a
    corpus re-scan."""
    from ph_ee_nats_importer_rdbms_spark.analytics.text import corpus_report_of

    metrics = bs.read_union(spark, root, "metrics", METRICS_SCHEMA)
    verdict = read_curation(spark, root)
    return corpus_report_of(metrics.join(verdict, "doc_id"))


# --- staged store: the registry's store-backed curation artifacts ---------


def _build_staged_curation_store(
    spark: SparkSession, sf_dir: str, root: str
) -> None:
    """Deterministic two-delivery build over the dataset's documents
    (even doc_ids as the base, odd appended), carrying every column the
    curation artifacts read (lang for the verdict cascade, source for
    the dataset card). The pinned parity contracts (store build matches
    q_curation; partials merge to q_vocabulary; the card matches
    q_corpus_report) make the committed artifacts value-identical to the
    staged-dataset registry outputs at any delivery split."""
    from ph_ee_nats_importer_rdbms_spark.sources.files import load_table

    from ph_ee_nats_importer_rdbms_spark.analytics.classifier import model_for

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    build_curation_store(
        spark,
        docs.filter(F.col("doc_id") % 2 == 0),
        root,
        nb_model=model_for(sf_dir),
    )
    append_curation_batch(spark, docs.filter(F.col("doc_id") % 2 == 1), root)


def staged_curation_store_root(spark: SparkSession, sf_dir: str) -> str:
    """Root of the dataset's staged incremental curation store — staged
    once per (dataset, code) fingerprint (``staging.artifact_tree`` owns
    the completeness/race/cache-disabled semantics). Puts the curation
    store's READ PATHS under the driver's oracle gate via the
    ``curation_store`` / ``vocabulary_store`` / ``corpus_report_store``
    registry entries."""
    from ph_ee_nats_importer_rdbms_spark.plans import staging

    return staging.artifact_tree(
        spark,
        sf_dir,
        "cstore",
        "curation_store",
        lambda root: _build_staged_curation_store(spark, sf_dir, root),
        "documents.parquet",
    )


def q_minhash_dups_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``incremental_docs.read_pairs`` over the staged CURATION store —
    which IS a complete document near-dup store (build_curation_store
    wraps build_index; metrics/vocab ride the same transaction), so the
    doc-dedup read path shares one staged tree with the curation
    entries instead of paying the shingle/minhash/band/verify build
    twice. Tradeoff, named: text.py edits now invalidate this artifact
    too (the cstore fingerprint covers the cascade code). Same DuckDB
    oracle as ``minhash_dups`` by append-equals-rebuild parity."""
    from ph_ee_nats_importer_rdbms_spark.analytics import incremental_docs

    root = staged_curation_store_root(spark, sf_dir)
    return incremental_docs.read_pairs(spark, root)


def q_dup_clusters_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest committed labeling of the staged curation store, in the
    registry's cluster shape (doc_id, cluster_id, is_keeper) — equal to
    CC over the full pair graph, gated by the ``dup_clusters`` oracle."""
    from ph_ee_nats_importer_rdbms_spark.analytics import incremental_docs

    root = staged_curation_store_root(spark, sf_dir)
    return incremental_docs.read_labels(spark, root).select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_keeper"),
    )


def q_curation_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``read_curation`` over the staged incremental store: committed
    per-delivery metrics joined to the latest labeling through the
    cascade SHARED with ``q_curation`` — the same DuckDB oracle gates
    both read paths."""
    return read_curation(spark, staged_curation_store_root(spark, sf_dir))


def q_vocabulary_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``read_vocabulary`` over the staged incremental store: summed
    per-delivery partials with the same deterministic top-k cut as
    ``q_vocabulary`` — same oracle, store-backed path."""
    return read_vocabulary(spark, staged_curation_store_root(spark, sf_dir))


def q_corpus_report_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``read_corpus_report`` over the staged incremental store: the
    dataset card from store-maintained inputs through the aggregate
    SHARED with ``q_corpus_report`` — same oracle, store-backed path."""
    return read_corpus_report(
        spark, staged_curation_store_root(spark, sf_dir)
    )
