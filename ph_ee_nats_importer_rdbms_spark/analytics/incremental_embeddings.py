"""Incremental embedding near-dup clusters over an append-mostly vector
corpus — the vectors analog of the document store (incremental_docs),
closing the last full-rebuild curation artifact.

Sign-LSH makes the append incremental by the same construction MinHash
banding does for documents:

- Per-vector artifacts (bucket, norm) depend on the vector alone; the
  hyperplanes are FROZEN at store build (like the PQ/IVF codebooks:
  buckets from two plane draws are not comparable), so a delivery
  buckets only its own vectors.
- A new near-dup pair must involve a new vector, and the pair shares a
  sign-LSH bucket — so candidates are ``new_buckets ⋈ all_buckets`` on
  the bucket key (old↔old never regenerates), exact cosine on
  candidates only, threshold filter.
- Labels merge via the contraction trick: the old (node → label) edges
  preserve old connectivity exactly, so CC over
  ``old label edges ∪ new pairs`` is the correct min-id labeling of the
  merged graph — O(labeled nodes + new pairs), not O(all pairs ever).

Store layout and crash safety use the manifest-transaction helpers
(batch_store.py); labels are versioned per commit (latest manifest is
the pointer). Parity contract (tests/test_incremental_embeddings.py,
fuzzed over delivery splits): pairs and labels equal a from-scratch
build of the union corpus with the same frozen planes — and the
store built over the full corpus reproduces the oracle-checked
``embedding_dups`` / ``embedding_dup_clusters`` registry outputs.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ph_ee_nats_importer_rdbms_spark.analytics import batch_store as bs
from ph_ee_nats_importer_rdbms_spark.analytics.dedup import (
    EMBED_COSINE_THRESHOLD,
    EMBED_DIM,
    EMBED_TARGET_OCC,
    _dot,
    _embed_bucket_col,
    _norm,
    connected_components,
    embed_bands_for,
    hyperplanes,
)
from ph_ee_nats_importer_rdbms_spark.analytics.vector_kernels import (
    SQ16_COLS,
    sq16_meta_of,
    sq16_pair_keep_col,
)

#: band keys are slim (vec_id, band, bucket) and the embedding payload
#: lives ONCE per vector in a separate ``vectors`` artifact — bands never
#: duplicate embeddings.
BUCKETS_SCHEMA = "vec_id long, band int, bucket long"
#: round-11 artifact: per-vector SQ16 pre-filter sketch (VERDICT r10
#: task #1) — lets the banded candidate join carry ~150 B of fixed-width
#: columns instead of the raw embedding and thins candidates with the
#: LOSSLESS Cauchy–Schwarz bound BEFORE the cross-band distinct (the
#: 1.24e9-key shuffle that exhausted the sf100 box's scratch disk).
#: Every build and append writes it.
SQ16_SCHEMA = (
    "vec_id long, q16 array<smallint>, s16 double, e16 double,"
    " rn16 double, pnorm double"
)
VECTORS_SCHEMA = "vec_id long, embedding array<float>, norm double"
PAIRS_SCHEMA = "vec_a long, vec_b long, cosine double"
LABELS_SCHEMA = "node long, label long"


def _planes_path(root: str) -> str:
    return os.path.join(root, "planes.json")


def frozen_planes(root: str) -> dict:
    """The frozen band structure {bands, planes_per_band, planes}."""
    with open(_planes_path(root)) as f:
        return json.load(f)


def _bucketed(vectors: DataFrame, structure: dict) -> DataFrame:
    """(vec_id, band, bucket) — banded sign-LSH keys (dedup.py shape)."""
    b, r = structure["bands"], structure["planes_per_band"]
    planes = structure["planes"]
    per_band = F.array(
        *[
            _embed_bucket_col("embedding", planes[i * r : (i + 1) * r])
            for i in range(b)
        ]
    )
    return vectors.select(
        "vec_id", F.posexplode(per_band).alias("band", "bucket")
    )


def _vectors_of(vectors: DataFrame) -> DataFrame:
    return vectors.select(
        "vec_id", "embedding", _norm("embedding").alias("norm")
    )


def _store_buckets(spark: SparkSession, root: str) -> DataFrame:
    """(vec_id, band, bucket) across committed batches."""
    return bs.read_union(spark, root, "buckets", BUCKETS_SCHEMA)


def _store_vectors(spark: SparkSession, root: str) -> DataFrame:
    """(vec_id, embedding, norm) across committed batches."""
    return bs.read_union(spark, root, "vectors", VECTORS_SCHEMA)


def _verified_pairs(
    new_bk: DataFrame,
    all_bk: DataFrame,
    all_vec: DataFrame,
    new_meta: DataFrame | None = None,
    all_meta: DataFrame | None = None,
) -> DataFrame:
    """Exact-cosine-verified near-dup pairs between the new batch and the
    whole bucketed corpus: (band, bucket)-join candidates only (old↔old
    pairs never regenerate because one side is always new), deduped
    across bands BEFORE the verify so each pair scores once.

    With SQ16 metadata (``new_meta``/``all_meta``), the sketch rides the
    band join and the LOSSLESS bound thins candidates BEFORE the
    cross-band distinct and the embedding re-attach — the filter can
    only drop pairs the exact verify would reject, so the output is
    identical to the unfiltered path (pinned by the append-equals-
    rebuild fuzz and tests/test_round11_pins.py). A pair colliding in
    several bands is filtered per collision and deduped after, and the
    bound's mild asymmetry is harmless: either orientation failing
    proves the pair can't qualify."""
    a = new_bk.select(
        "band", "bucket", F.col("vec_id").alias("id_a")
    )
    b = all_bk.select(
        F.col("band").alias("band_b"),
        F.col("bucket").alias("bucket_b"),
        F.col("vec_id").alias("id_b"),
    )
    if new_meta is not None:
        a = a.join(
            new_meta.select(
                F.col("vec_id").alias("id_a"),
                *[F.col(c).alias(f"{c}_a") for c in SQ16_COLS],
            ),
            "id_a",
        )
        b = b.join(
            all_meta.select(
                F.col("vec_id").alias("id_b"),
                *[F.col(c).alias(f"{c}_b") for c in SQ16_COLS],
            ),
            "id_b",
        )
    cand = a.join(
        b,
        (F.col("band") == F.col("band_b"))
        & (F.col("bucket") == F.col("bucket_b"))
        & (F.col("id_a") != F.col("id_b")),
    )
    if new_meta is not None:
        cand = cand.filter(sq16_pair_keep_col(EMBED_COSINE_THRESHOLD))
    cand = cand.select(
        F.least("id_a", "id_b").alias("vec_a"),
        F.greatest("id_a", "id_b").alias("vec_b"),
    ).distinct()
    pairs = cand.join(
        all_vec.select(
            F.col("vec_id").alias("vec_a"),
            F.col("embedding").alias("emb_a"),
            F.col("norm").alias("norm_a"),
        ),
        "vec_a",
    ).join(
        all_vec.select(
            F.col("vec_id").alias("vec_b"),
            F.col("embedding").alias("emb_b"),
            F.col("norm").alias("norm_b"),
        ),
        "vec_b",
    )
    cos = F.round(_dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")), 4)
    return pairs.select("vec_a", "vec_b", cos.alias("cosine")).filter(
        F.col("cosine") >= EMBED_COSINE_THRESHOLD
    )


#: per-delivery recall measurement: sample cap and corpus cap bound the
#: truth pass at |sample| x min(corpus, cap) exact cosines — one
#: broadcast map over a DETERMINISTIC hash-subsample of the union
#: relation, so the measurement cannot break the store's
#: delivery-linear append contract however large the corpus grows
#: (pairs found within a uniform subsample are true pairs; the estimate
#: just carries more variance, which the noise guard absorbs). The
#: guard is one-sided, in binomial standard errors: trip only when
#: measured recall sits more than ``RECALL_FLOOR_MARGIN_SD`` SEs BELOW
#: the analytic floor, so a small delivery with 3 true pairs and one
#: unlucky miss can't false-flag — the same honesty discipline as the
#: ANN store's TVD noise floor. (The constant is shared with the ANN
#: store's probe-coverage trip — one tuning site.)
RECALL_SAMPLE_MAX = 64
RECALL_CORPUS_CAP = 20_000
RECALL_FLOOR_MARGIN_SD = 2.0


def analytic_recall_floor(structure) -> float:
    """Banded collision probability at the recall-floor cosine for THIS
    frozen structure: 1-(1-p^r)^b with p the per-plane agreement
    probability at ``EMBED_RECALL_FLOOR_COS`` — the guarantee
    :func:`dedup.embed_bands_for` sizes bands for, evaluated at the
    structure actually frozen into the store."""
    import math

    from ph_ee_nats_importer_rdbms_spark.analytics.dedup import (
        _EMBED_DESIGN_P,
    )

    b, r = structure["bands"], structure["planes_per_band"]
    return 1.0 - (1.0 - _EMBED_DESIGN_P**r) ** b


def _measured_recall_stats(
    sample_vec: DataFrame,
    corpus: DataFrame,
    sample_bk: DataFrame,
    corpus_bk: DataFrame,
    n_delivery: int,
) -> dict:
    """MEASURED band recall for one delivery (VERDICT r7 task #6): of the
    sampled delivery vectors' TRUE pairs at the floor cosine (exact
    cosine ground truth, no LSH), the fraction the frozen bands surface
    as candidates. The analytic floor is a design-time guarantee under
    uniform geometry; production corpora can concentrate in ways that
    break it silently — this records the observed value in the commit
    manifest so degradation is a monitored signal, not a documented
    caveat. Bounded: |sample| <= ``RECALL_SAMPLE_MAX`` and the truth
    pass runs against ``corpus``, the union of the per-batch
    ``recall_sample`` artifacts (deterministic subsamples at the
    commit-time rate, ~``RECALL_CORPUS_CAP`` rows — append-time only,
    never on a serving path, and never corpus-proportional), bucketed
    as ``corpus_bk``. ``n_delivery`` comes from a count the caller
    already holds — no extra cardinality jobs."""
    from ph_ee_nats_importer_rdbms_spark.analytics.dedup import (
        EMBED_RECALL_FLOOR_COS,
    )

    sample = sample_vec.orderBy("vec_id").limit(RECALL_SAMPLE_MAX)
    a = sample.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = corpus.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    cos = F.round(
        _dot("emb_a", "emb_b") / (F.col("norm_a") * F.col("norm_b")), 4
    )
    truth = (
        F.broadcast(a)
        .crossJoin(b)
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(cos >= EMBED_RECALL_FLOOR_COS)
        .select(
            F.least("id_a", "id_b").alias("vec_a"),
            F.greatest("id_a", "id_b").alias("vec_b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    sample_ids = sample.select("vec_id")
    caught = (
        sample_bk.join(F.broadcast(sample_ids), "vec_id")
        .select("band", "bucket", F.col("vec_id").alias("id_a"))
        .join(
            corpus_bk.select(
                "band", "bucket", F.col("vec_id").alias("id_b")
            ),
            ["band", "bucket"],
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.least("id_a", "id_b").alias("vec_a"),
            F.greatest("id_a", "id_b").alias("vec_b"),
        )
        .distinct()
    )
    n_true = truth.count()
    n_caught = truth.join(caught, ["vec_a", "vec_b"], "leftsemi").count()
    return {
        "sampled": min(RECALL_SAMPLE_MAX, n_delivery),
        "floor_cos": EMBED_RECALL_FLOOR_COS,
        "corpus_cap": RECALL_CORPUS_CAP,
        "true_pairs": int(n_true),
        "caught_pairs": int(n_caught),
    }


def _recall_input(
    spark: SparkSession,
    root: str,
    structure: dict,
    new_vec: DataFrame,
    new_bk: DataFrame,
    n_delivery: int,
    n_total: int,
) -> dict:
    """The recall measurement's truth corpus: the union of the committed
    per-batch ``recall_sample`` artifacts and this delivery's sample
    (recomputed — deterministic — rather than re-read), BUCKETED
    IN-FLIGHT against the frozen structure: corpus-free I/O, so the
    monitor cannot break the store's delivery-linear append contract."""
    sample = bs.hash_subsample(
        new_vec, n_total, RECALL_CORPUS_CAP, "vec_id", "band-recall"
    )
    if bs.committed_batches(root):
        sample = bs.read_union(
            spark, root, "recall_sample", VECTORS_SCHEMA
        ).unionByName(sample)
    sample = sample.localCheckpoint(eager=True)
    return _measured_recall_stats(
        new_vec, sample, new_bk, _bucketed(sample, structure), n_delivery
    )


def _structure_stats(structure, n_total: int, n_delivery: int) -> dict:
    """Per-delivery band-structure drift statistic for the commit
    manifest (config-sized — derived from counts and the frozen
    structure, never a corpus rescan).

    The frozen structure was sized by :func:`dedup.embed_bands_for` to
    hold expected bucket occupancy at ``EMBED_TARGET_OCC`` for the BUILD
    corpus. Under the store's uniform md5-derived bucket keys, expected
    occupancy after a delivery is ``n_total / 2^planes_per_band`` — the
    exact quantity the sizing formula controls, so its ratio to the
    target is the candidate-load multiplier the frozen structure now
    pays versus its design point (the fixed-plane quadratic the sf10
    scaling bench caught, creeping back one delivery at a time)."""
    r = structure["planes_per_band"]
    exp_occ = n_total / float(2**r)
    return {
        "n": int(n_delivery),
        "n_total": int(n_total),
        "expected_occupancy": exp_occ,
        "occupancy_ratio": exp_occ / EMBED_TARGET_OCC,
        "bands": int(structure["bands"]),
        "planes_per_band": int(r),
    }


def _labels_or_empty(spark: SparkSession, edges: DataFrame) -> DataFrame:
    e = edges.localCheckpoint(eager=True)
    if e.isEmpty():  # bounded probe, not a full count job
        return spark.createDataFrame([], LABELS_SCHEMA)
    return connected_components(e)


def build_embedding_store(
    spark: SparkSession,
    vectors: DataFrame,
    root: str,
    planes: dict | None = None,
) -> None:
    """Full build from a (vec_id, embedding) relation; freezes the band
    structure into the store (an append must never redraw it — same
    contract as the PQ/IVF codebooks). ``planes`` is a structure dict
    {bands, planes_per_band, planes}, or None, which sizes the structure
    from the corpus via :func:`dedup.embed_bands_for` so the store's
    candidate volume stays ~linear as corpora grow (the fixed-plane
    quadratic caught by the sf10 scaling bench)."""
    if planes is None:
        bands, r = embed_bands_for(vectors.count())
        planes = {
            "bands": bands,
            "planes_per_band": r,
            "planes": hyperplanes(bands * r, EMBED_DIM),
        }
    os.makedirs(root, exist_ok=True)
    with open(_planes_path(root), "w") as f:
        json.dump(planes, f)
    slim = _bucketed(vectors, planes).localCheckpoint(eager=True)
    vec = _vectors_of(vectors).localCheckpoint(eager=True)
    # the prefilter reads the sketch on BOTH join sides — checkpoint so
    # the encode runs once per vector, not once per side
    meta = sq16_meta_of(
        vectors.select("vec_id", "embedding")
    ).localCheckpoint(eager=True)
    pairs = _verified_pairs(
        slim, slim, vec, new_meta=meta, all_meta=meta
    ).localCheckpoint(eager=True)
    n = vec.count()
    bs.write_artifacts(
        root,
        bs.BASE_BATCH,
        {
            "buckets": slim,
            "vectors": vec,
            "sq16": meta,
            "recall_sample": bs.hash_subsample(
                vec, n, RECALL_CORPUS_CAP, "vec_id", "band-recall"
            ),
            "pairs": pairs,
            "delivered": vectors.select("vec_id"),
            "labels": _labels_or_empty(
                spark, pairs.select(
                    F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
                )
            ),
        },
    )
    bs.commit(
        root,
        {
            "seq": 0,
            "batch": bs.BASE_BATCH,
            "structure_drift": _structure_stats(planes, n, n),
            "recall": _recall_input(spark, root, planes, vec, slim, n, n),
        },
    )


def read_pairs(spark: SparkSession, root: str) -> DataFrame:
    return bs.read_union(spark, root, "pairs", PAIRS_SCHEMA)


def read_labels(spark: SparkSession, root: str) -> DataFrame:
    """Latest committed labeling (full replacement per commit; the
    manifest is the pointer)."""
    latest = bs.committed_batches(root)[-1]
    return spark.read.schema(LABELS_SCHEMA).parquet(
        bs.batch_path(root, "labels", latest["batch"])
    )


def read_clusters(spark: SparkSession, root: str) -> DataFrame:
    """(vec_id, cluster_id, is_keeper) — the registry-query shape."""
    return read_labels(spark, root).select(
        F.col("node").alias("vec_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("is_keeper"),
    )


def append_embedding_batch(
    spark: SparkSession,
    new_vectors: DataFrame,
    root: str,
    skip_committed: bool = False,
) -> dict:
    """Fold a vector delivery in: bucket the batch against the frozen
    planes, probe the committed bucket table, verify, merge labels."""
    began = bs.begin_append(
        spark, new_vectors, root, "vec_id", "append_embedding_batch",
        "already in the store", skip_committed,
    )
    if began is None:
        return {"new_vectors": 0, "skipped": True}
    committed, batch = began
    structure = frozen_planes(root)
    new_bk = _bucketed(new_vectors, structure).localCheckpoint(eager=True)
    new_vec = _vectors_of(new_vectors).localCheckpoint(eager=True)
    all_bk = _store_buckets(spark, root).unionByName(new_bk)
    all_vec = _store_vectors(spark, root).unionByName(new_vec)
    new_meta = sq16_meta_of(
        new_vectors.select("vec_id", "embedding")
    ).localCheckpoint(eager=True)
    all_meta = bs.read_union(spark, root, "sq16", SQ16_SCHEMA).unionByName(
        new_meta
    )
    pairs_new = _verified_pairs(
        new_bk, all_bk, all_vec, new_meta=new_meta, all_meta=all_meta
    ).localCheckpoint(eager=True)
    old_label_edges = read_labels(spark, root).select(
        F.col("node").alias("doc_a"), F.col("label").alias("doc_b")
    )
    labels = _labels_or_empty(
        spark,
        old_label_edges.unionByName(
            pairs_new.select(
                F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
            )
        ),
    ).localCheckpoint(eager=True)
    # stage the main artifacts FIRST, then size the delivery from their
    # parquet FOOTERS — zero count() jobs (VERDICT r8 task #4). Writing
    # in two steps is safe: nothing is visible until the manifest commit,
    # and a crash in between leaves only manifest-less garbage the
    # idempotent retry overwrites. Prior corpus size folds from the
    # committed delivered dirs' footers, so totals stay correct even on
    # stores whose pre-upgrade manifests carry no running total.
    bs.write_artifacts(
        root,
        batch,
        {
            "buckets": new_bk,
            "vectors": new_vec,
            "sq16": new_meta,
            "pairs": pairs_new,
            "delivered": new_vectors.select("vec_id"),
            "labels": labels,
        },
    )
    n = bs.artifact_count(root, "delivered", batch)
    n_prior = bs.committed_count(root, "delivered")
    # each delivery samples ITSELF at the commit-time corpus rate — the
    # recall truth pass reads the union of these small dirs, not the
    # corpus payload (see _measured_recall_stats)
    bs.write_artifacts(
        root,
        batch,
        {
            "recall_sample": bs.hash_subsample(
                new_vec, n_prior + n, RECALL_CORPUS_CAP, "vec_id",
                "band-recall",
            )
        },
    )
    bs.commit(
        root,
        {
            "seq": len(committed),
            "batch": batch,
            "structure_drift": _structure_stats(structure, n_prior + n, n),
            "recall": _recall_input(
                spark, root, structure, new_vec, new_bk, n, n_prior + n
            ),
        },
    )
    return {
        "new_vectors": n,
        "new_pairs": bs.artifact_count(root, "pairs", batch),
    }


#: A delivery whose expected bucket occupancy exceeds 4x the design
#: target means the frozen bands now generate ~4x the candidate-verify
#: load per vector that the structure was sized for — two corpus
#: doublings past the freeze point. The flag additionally requires that
#: a rebuild would actually change the structure (embed_bands_for at
#: the current corpus size picks different bands/planes); a store whose
#: planes_per_band sits at EMBED_MAX_PLANES cannot reduce occupancy by
#: rebuilding, so flagging it would demand a rebuild that changes
#: nothing.
OCCUPANCY_RATIO_THRESHOLD = 4.0

_STRUCTURE_DRIFT_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.IntegerType()),
        T.StructField("batch", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("n_total", T.LongType()),
        T.StructField("expected_occupancy", T.DoubleType()),
        T.StructField("occupancy_ratio", T.DoubleType()),
        T.StructField("structure_changed", T.BooleanType()),
        T.StructField("true_pairs", T.LongType()),
        T.StructField("measured_recall", T.DoubleType()),
        T.StructField("recall_floor", T.DoubleType()),
        T.StructField("recall_low", T.BooleanType()),
        T.StructField("needs_rebuild", T.BooleanType()),
    ]
)


def _recall_low(d: dict | None, floor: float) -> tuple:
    """(true_pairs, measured_recall, recall_low) from a manifest's recall
    stats. ``recall_low`` is the noise-guarded trip: measured recall more
    than ``RECALL_FLOOR_MARGIN_SD`` binomial standard errors below the
    analytic floor. No stats OR no true pairs -> unknown (None in both
    the recall and flag slots), never a trip — a delivery with nothing
    to measure is not evidence of health any more than of degradation
    (same contract as the ANN store's probe-coverage columns)."""
    import math

    if not d or not d.get("true_pairs"):
        return (
            None if d is None else d.get("true_pairs"),
            None,
            None,
        )
    t = int(d["true_pairs"])
    measured = d["caught_pairs"] / t
    margin = RECALL_FLOOR_MARGIN_SD * math.sqrt(floor * (1 - floor) / t)
    return t, measured, bool(measured < floor - margin)


def structure_drift_report(
    spark: SparkSession,
    root: str,
    occupancy_ratio_threshold: float = OCCUPANCY_RATIO_THRESHOLD,
) -> DataFrame:
    """Per-delivery band-structure drift relation, thresholded into a
    ``needs_rebuild`` flag — one row per committed batch, computed
    entirely from the commit manifests (config-sized; no data scan).
    The vectors analog of the ANN store's codebook ``drift_report``
    (incremental_vectors.py), for the OTHER frozen artifact: the sign-LSH
    band structure, whose candidate load grows with the corpus while the
    planes stay fixed.

    ``structure_changed`` is whether :func:`dedup.embed_bands_for` at
    that delivery's cumulative corpus size picks a different structure
    than the frozen one — i.e. whether a rebuild would do anything;
    ``needs_rebuild`` = (occupancy past threshold AND a rebuild helps)
    OR the delivery's MEASURED band recall (manifest ``recall`` stats,
    VERDICT r7 task #6) fell below the frozen structure's analytic floor
    beyond sampling noise (``recall_low``) — the observable twin of the
    design-time guarantee, so production degradation at moderate
    similarity trips the flag instead of hiding in a docstring.
    Deliveries committed by pre-upgrade code carry no stats and surface
    as NULL metrics with a NULL flag (unknown, not healthy) — the same
    contract as ``drift_report``."""
    s = frozen_planes(root)
    frozen = (s["bands"], s["planes_per_band"])
    floor = analytic_recall_floor(s)
    rows = []
    for m in bs.committed_batches(root):
        d = m.get("structure_drift")
        t_pairs, measured, low = _recall_low(m.get("recall"), floor)
        if not d:
            rows.append(
                (m["seq"], m["batch"], None, None, None, None, None,
                 t_pairs, measured, floor, low,
                 True if low else None)
            )
            continue
        changed = embed_bands_for(d["n_total"]) != frozen
        ratio = d["occupancy_ratio"]
        rows.append(
            (
                m["seq"],
                m["batch"],
                d["n"],
                d["n_total"],
                d["expected_occupancy"],
                ratio,
                changed,
                t_pairs,
                measured,
                floor,
                low,
                bool(
                    (changed and ratio > occupancy_ratio_threshold)
                    or low
                ),
            )
        )
    return spark.createDataFrame(rows, _STRUCTURE_DRIFT_SCHEMA)


def needs_rebuild(
    spark: SparkSession,
    root: str,
    occupancy_ratio_threshold: float = OCCUPANCY_RATIO_THRESHOLD,
) -> bool:
    """True when ANY committed delivery trips the structure threshold —
    occupancy only grows as deliveries accumulate, so the latest known
    delivery dominates and an ANY fold equals the current state."""
    report = structure_drift_report(spark, root, occupancy_ratio_threshold)
    return bool(report.filter(F.col("needs_rebuild")).limit(1).collect())


def rebuild_store(
    spark: SparkSession, old_root: str, new_root: str, planes: dict | None = None
) -> None:
    """The action ``needs_rebuild`` calls for: a full rebuild of the
    store over its own committed corpus into ``new_root``, re-sizing the
    band structure for the corpus as it now is (``planes=None`` →
    :func:`dedup.embed_bands_for` auto-sizing, like a fresh build).

    Build-over-union is the only correct response to structure drift:
    buckets from two plane draws are not comparable, so an in-place
    restructure could not reuse any committed bucket artifact — the same
    reason the ANN store retrains codebooks offline rather than patching
    them. The old store stays intact until the caller swaps readers to
    ``new_root`` (stores are directories; the swap is a pointer update,
    never an in-place mutation)."""
    vectors = _store_vectors(spark, old_root).select("vec_id", "embedding")
    build_embedding_store(spark, vectors, new_root, planes=planes)


# --- staged store: the registry's store-backed near-dup artifact ----------


def _build_staged_embedding_store(
    spark: SparkSession, sf_dir: str, root: str
) -> None:
    """Deterministic two-delivery build over the dataset's embeddings
    (even vec_ids as the base, odd appended) with the band structure the
    REGISTRY operator uses — sized by ``embed_bands_for`` at the FULL
    corpus cardinality with the same deterministic plane draw, so the
    frozen structure equals ``embed_bucket_table``'s regardless of how
    the corpus splits into deliveries. Append-equals-rebuild (the
    store's pinned parity contract) then makes the committed pairs and
    labels equal the oracle-checked ``embedding_dups`` /
    ``embedding_dup_clusters`` outputs at any scale."""
    from ph_ee_nats_importer_rdbms_spark.analytics.dedup import (
        registry_band_structure,
    )
    from ph_ee_nats_importer_rdbms_spark.sources.files import (
        load_table,
        spread,
    )

    v = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    build_embedding_store(
        spark,
        v.filter(F.col("vec_id") % 2 == 0),
        root,
        planes=registry_band_structure(sf_dir),
    )
    append_embedding_batch(spark, v.filter(F.col("vec_id") % 2 == 1), root)


def staged_embedding_store_root(spark: SparkSession, sf_dir: str) -> str:
    """Root of the dataset's staged incremental embedding store — the
    near-dup twin of ``incremental_vectors.staged_store_root``, staged
    once per (dataset, code) fingerprint (``staging.artifact_tree``
    owns the completeness/race/cache-disabled semantics). Puts the
    embedding store's READ PATH under the driver's oracle gate via the
    ``embedding_dups_store`` / ``embedding_dup_clusters_store`` registry
    entries."""
    from ph_ee_nats_importer_rdbms_spark.plans import staging

    return staging.artifact_tree(
        spark,
        sf_dir,
        "estore",
        "embedding_store",
        lambda root: _build_staged_embedding_store(spark, sf_dir, root),
        "embeddings.parquet",
    )


def q_embedding_dups_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``read_pairs`` over the staged incremental store: the committed
    per-delivery pair lists, which the append-equals-rebuild contract
    makes exactly the from-scratch near-dup pairs — so the SAME DuckDB
    oracle that gates ``embedding_dups`` gates the store's read path.
    Output shape matches the staged-dataset entry (vec_a, vec_b,
    cosine)."""
    root = staged_embedding_store_root(spark, sf_dir)
    return read_pairs(spark, root)


def q_embedding_dup_clusters_store(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``read_clusters`` over the staged incremental store: the LATEST
    committed labeling (manifest-versioned, merged per delivery by the
    contraction trick), equal to CC over the full pair graph — gated by
    the same oracle as ``embedding_dup_clusters``."""
    root = staged_embedding_store_root(spark, sf_dir)
    return read_clusters(spark, root)
