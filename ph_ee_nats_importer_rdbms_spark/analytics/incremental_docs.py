"""Incremental near-dup index maintenance over an append-mostly corpus.

A training-data corpus grows in BATCHES (a crawl dump, a vendor delivery,
one `source` at a time); recomputing MinHash-LSH dedup from scratch per
delivery is the 100 TB version of rebuilding the world because one file
changed. The LSH structure makes the append incremental by construction:

- Per-doc artifacts (shingles, signatures, band entries) depend on the
  doc alone — derive them for the NEW batch only and append.
- New near-dup pairs can only involve a new doc (old-vs-old pairs are
  already in the store), and any pair involving a new doc must collide
  with it in some band — so the candidate join is
  ``new_bands ⋈ all_bands`` on the band key: cost ∝ new batch × collision
  rate, never corpus². At cluster scale the stored band table is
  bucketed by (band_id, band_key) so this probe is co-located.
- Cluster labels merge by the standard trick: an existing labeling is a
  CONTRACTION of the old pair graph — the (node → label) edges preserve
  exactly its connectivity — so running connected components over
  ``old label edges ∪ new verified pairs`` yields the correct min-id
  labeling of the merged graph without ever revisiting old pairs. The
  CC input is O(labeled nodes + new pairs), not O(all pairs ever).

``build_index`` lays the store down; ``append_batch`` folds a delivery
in. Parity contract (tests/test_incremental_docs.py, including a
hypothesis fuzz): after any sequence of appends, ``pairs`` equals the
from-scratch pair set of the union corpus and ``labels`` equals the
from-scratch clustering.

Store layout — per-batch artifact dirs made visible by batch_store's
COMMIT MANIFESTS (the minimal manifest-transaction shape a Delta/Iceberg
table would provide at lake scale; single writer assumed, like the
deployed importer)::

    shingles/<batch>/    (doc_id, shingles)           per-batch dir
    signatures/<batch>/  (doc_id, sig_0..sig_11)      per-batch dir
    bands/<batch>/       (doc_id, band_id, band_key)  per-batch dir
    pairs/<batch>/       (doc_a, doc_b, jaccard)      per-batch dir
    delivered/<batch>/   (doc_id)  ALL delivered ids, pre-shingle-filter
    labels/<batch>/      (node, label)  versioned; current = latest commit

Crash safety: every per-batch write is ``mode("overwrite")`` into a
batch-deterministic directory, so a crashed append leaves only
manifest-less garbage that the retried append overwrites in place —
readers never see it, the re-delivery guard never trusts it (it reads the
``delivered`` relation of COMMITTED batches only), and the jaccard/parity
contract cannot be broken by a partial append. Labels are never swapped
in place: each commit writes a NEW labels version and the manifest is the
pointer, so a current labels directory exists at every instant.

The re-delivery guard runs against ``delivered`` — every doc_id the batch
carried, BEFORE the shingle-length filter — so a short doc (fewer than
SHINGLE_K tokens, which never reaches signatures) still blocks a later
re-delivery of its doc_id, and ``new_docs`` in the returned stats counts
the full delivery.

Batches must carry doc_ids disjoint from the store (append-mostly corpus
contract; the deletion/edit story for derived DOCUMENT artifacts is
re-shingling the affected sources — cheap because everything here is
source-sliceable — and is out of scope for this module).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ph_ee_nats_importer_rdbms_spark.analytics import batch_store as bs
from ph_ee_nats_importer_rdbms_spark.analytics.dedup import (
    bands_of,
    connected_components,
    jaccard_verify,
    shingles_of,
    signatures_of,
)

_SIG_FIELDS = [T.StructField("doc_id", T.LongType())] + [
    T.StructField(f"sig_{j}", T.LongType()) for j in range(12)
]

_SCHEMAS = {
    "shingles": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("shingles", T.ArrayType(T.StringType())),
        ]
    ),
    "signatures": T.StructType(_SIG_FIELDS),
    "bands": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("band_id", T.IntegerType()),
            T.StructField("band_key", T.StringType()),
        ]
    ),
    "pairs": T.StructType(
        [
            T.StructField("doc_a", T.LongType()),
            T.StructField("doc_b", T.LongType()),
            T.StructField("jaccard", T.DoubleType()),
        ]
    ),
    "delivered": T.StructType([T.StructField("doc_id", T.LongType())]),
    "labels": T.StructType(
        [
            T.StructField("node", T.LongType()),
            T.StructField("label", T.LongType()),
        ]
    ),
}


def read_pairs(spark: SparkSession, root: str) -> DataFrame:
    return bs.read_union(spark, root, "pairs", _SCHEMAS["pairs"])


def read_labels(spark: SparkSession, root: str) -> DataFrame:
    """The CURRENT labeling = the latest committed batch's labels version
    (each commit writes a full replacement; the manifest is the pointer,
    so no in-place swap ever hides the directory from a reader)."""
    latest = bs.committed_batches(root)[-1]
    return spark.read.schema(_SCHEMAS["labels"]).parquet(
        bs.batch_path(root, "labels", latest["batch"])
    )


def _cc_or_empty(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    edges = pairs.select("doc_a", "doc_b").localCheckpoint(eager=True)
    if edges.isEmpty():  # bounded probe, not a full count job
        return spark.createDataFrame([], _SCHEMAS["labels"])
    return connected_components(edges)


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    extra: dict[str, DataFrame] | None = None,
    manifest_extra: dict | None = None,
) -> None:
    """Full build from a (doc_id, text) relation.

    ``extra`` adds caller-defined per-batch artifacts (name -> relation
    derived from THIS batch's docs) to the same transaction: they stage
    into batch dirs with everything else and become visible atomically
    with the one commit manifest. Read back with
    :func:`batch_store.read_union`.
    The curation store (incremental_curation.py) rides its per-doc
    metrics on this. ``manifest_extra`` adds caller-defined JSON fields
    to the commit manifest itself (config-sized monitoring statistics —
    the curation store's vocabulary-churn record rides here)."""
    sh = shingles_of(docs).localCheckpoint(eager=True)
    sigs = signatures_of(sh).localCheckpoint(eager=True)
    bands = bands_of(sigs).localCheckpoint(eager=True)
    a, b = bands.alias("a"), bands.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    pairs = jaccard_verify(candidates, sh).localCheckpoint(eager=True)
    bs.write_artifacts(
        root,
        bs.BASE_BATCH,
        {
            "shingles": sh,
            "signatures": sigs,
            "bands": bands,
            "pairs": pairs,
            "delivered": docs.select("doc_id"),
            "labels": _cc_or_empty(spark, pairs),
            **(extra or {}),
        },
    )
    bs.commit(
        root, {"seq": 0, "batch": bs.BASE_BATCH, **(manifest_extra or {})}
    )


def append_batch(
    spark: SparkSession,
    new_docs: DataFrame,
    root: str,
    extra: dict[str, DataFrame] | None = None,
    skip_committed: bool = False,
    manifest_extra: dict | None = None,
) -> dict:
    """Fold a new document batch into the store; returns append stats.

    Raises ``ValueError`` if the batch re-delivers a stored doc_id — the
    append-only contract; a silent append would double the doc's band
    entries and corrupt pair generation. The guard checks the committed
    ``delivered`` relation (every doc_id ever accepted, pre-shingle-
    filter), so short docs that never reached the signature store still
    reject, and a batch that crashed BEFORE its commit manifest leaves no
    trace the guard would trust — the retry overwrites its directories.

    ``skip_committed`` turns an exact-batch replay (same content digest)
    into a no-op instead of an error — the checkpoint-replay semantics a
    ``foreachBatch`` streaming sink needs for exactly-once."""
    began = bs.begin_append(
        spark, new_docs, root, "doc_id", "append_batch",
        "already in the store", skip_committed,
    )
    if began is None:
        return {"new_docs": 0, "skipped": True}
    committed, batch = began
    sh_new = shingles_of(new_docs).localCheckpoint(eager=True)
    sig_new = signatures_of(sh_new).localCheckpoint(eager=True)
    bands_new = bands_of(sig_new).localCheckpoint(eager=True)

    # candidate pairs: every pair involving a new doc collides with it in
    # >=1 band, so probing the FULL band table (old ∪ new) with only the
    # new bands finds old↔new and new↔new pairs; old↔old never regenerates.
    bands_all = bs.read_union(
        spark, root, "bands", _SCHEMAS["bands"]
    ).unionByName(bands_new)
    a = bands_new.alias("a")
    b = bands_all.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    # verification needs both sides' shingle sets; candidates only ever
    # reference new docs + their collision partners, so the join against
    # the stored shingles stays candidate-proportional.
    sh_all = bs.read_union(
        spark, root, "shingles", _SCHEMAS["shingles"]
    ).unionByName(sh_new)
    pairs_new = jaccard_verify(candidates, sh_all).localCheckpoint(eager=True)

    # label merge: old labeling as contraction edges + the new pairs
    old_label_edges = read_labels(spark, root).select(
        F.col("node").alias("doc_a"), F.col("label").alias("doc_b")
    )
    merged_input = old_label_edges.unionByName(
        pairs_new.select("doc_a", "doc_b")
    )
    labels = _cc_or_empty(spark, merged_input).localCheckpoint(eager=True)

    # stage everything into batch-deterministic dirs (idempotent on retry),
    # THEN commit: the manifest write is the transaction boundary.
    bs.write_artifacts(
        root,
        batch,
        {
            "shingles": sh_new,
            "signatures": sig_new,
            "bands": bands_new,
            "pairs": pairs_new,
            "delivered": new_docs.select("doc_id"),
            "labels": labels,
            **(extra or {}),
        },
    )
    bs.commit(
        root,
        {"seq": len(committed), "batch": batch, **(manifest_extra or {})},
    )
    # delivery stats from the written artifacts' parquet FOOTERS — zero
    # count() jobs (VERDICT r8 task #4; same discipline as the serving
    # side's footer-sized reads)
    return {
        "new_docs": bs.artifact_count(root, "delivered", batch),
        "new_pairs": bs.artifact_count(root, "pairs", batch),
        "labeled_nodes": bs.artifact_count(root, "labels", batch),
    }

