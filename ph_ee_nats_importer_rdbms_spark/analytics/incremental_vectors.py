"""Incremental maintenance of the ANN serving artifacts (PQ codes + IVF
inverted-list assignments) over an append-mostly vector corpus.

Embedding corpora grow the same way document corpora do — in deliveries.
Round 3 made the near-dup document index append-incremental
(analytics/incremental_docs.py); this module does the same for the two
staged ANN index artifacts, which until now full-rebuilt on any corpus
append. The FAISS operational model makes the append trivially sound:
codebooks are TRAINED ONCE on a sample and then FROZEN (``train()`` then
``add()``) — codes produced by two different training runs are not
comparable, so an append must never retrain. The store therefore embeds
its codebooks at build time, and ``append_vectors`` encodes ONLY the new
batch against those frozen books: per-delivery ENCODE cost is linear in
the delivery, never the corpus (the drift monitor's measured
probe-coverage adds a bounded constant per delivery — sampled queries
against a capped corpus subsample, see ``PROBE_RECALL_CORPUS_CAP``).

Store layout — per-batch artifact dirs made visible by batch_store's
commit manifests::

    codebooks.json                frozen IVF centroids + PQ books (build time)
    pq_codes/<batch>/             (vec_id, codes, approx_norm2)
    ivf_assign/<batch>/           (vec_id, cluster_id)
    delivered/<batch>/            (vec_id)  re-delivery guard input
    vectors/<batch>/              (vec_id, embedding)  retrain corpus
    lists/<batch>/cluster_id=N/   codes inside their inverted lists —
                                  the partition-pruned serving layout
    recall_sample/<batch>/        (vec_id, embedding)  the batch's own
                                  hash-subsample for the probe monitor

Every build and append writes all six per-batch dirs. Crash safety and
the re-delivery guard are batch_store's: per-batch writes are
deterministic overwrites into batch-named dirs, a batch without a
manifest is invisible, and the guard runs against the committed
``delivered`` relation.

Parity contract (tests/test_incremental_vectors.py, incl. a fuzz over
random batch splits): after any sequence of appends, ``read_codes`` /
``read_assignments`` equal a from-scratch build of the union corpus with
the same frozen codebooks — and the per-batch dirs contain ONLY that
batch's vec_ids (the "only new vectors encode" guarantee, asserted
structurally, not just by totals).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ph_ee_nats_importer_rdbms_spark.analytics import batch_store as bs
# encode kernels from vector_kernels (r13): the vstore fingerprint keys
# exactly the modules that define store BYTES — this one, the kernels,
# and the codebook artifacts — so similarity.py query-side edits no
# longer force the staged store's rebuild
from ph_ee_nats_importer_rdbms_spark.analytics.vector_kernels import (
    ivf_assign_of,
    pq_encode_of,
)
from ph_ee_nats_importer_rdbms_spark.sources.files import local_rel

_SCHEMAS = {
    "pq_codes": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
            T.StructField("approx_norm2", T.DoubleType()),
        ]
    ),
    "ivf_assign": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cluster_id", T.IntegerType()),
        ]
    ),
    "delivered": T.StructType([T.StructField("vec_id", T.LongType())]),
    "vectors": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    ),
    # the SERVING layout (IndexIVFPQ): each delivery's codes stored INSIDE
    # its inverted lists — hive-partitioned by cluster_id, so a query's
    # nprobe lists are a partition-pruned read
    "lists": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
            T.StructField("approx_norm2", T.DoubleType()),
            T.StructField("cluster_id", T.IntegerType()),
        ]
    ),
    # per-delivery hash-subsample feeding the probe-coverage truth pass:
    # each batch samples ITSELF at commit-time rate cap/n_total, so the
    # measurement reads the union of these small dirs instead of the
    # whole committed corpus (delivery-linear appends, corpus-free scans)
    "recall_sample": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    ),
}


def read_codes(spark: SparkSession, root: str) -> DataFrame:
    return bs.read_union(spark, root, "pq_codes", _SCHEMAS["pq_codes"])


def read_assignments(spark: SparkSession, root: str) -> DataFrame:
    return bs.read_union(spark, root, "ivf_assign", _SCHEMAS["ivf_assign"])


def frozen_codebooks(root: str) -> dict:
    with open(os.path.join(root, "codebooks.json")) as f:
        return json.load(f)


def _encode_and_write(
    spark: SparkSession, vectors: DataFrame, root: str, batch: str, books: dict
) -> dict:
    """Encode ONE batch against the frozen codebooks and write its dirs
    (deterministic overwrite — a crashed append's retry rewrites them).

    Returns the batch's DRIFT STATISTICS — mean PQ quantization error and
    IVF cluster occupancy — which the caller records in the commit
    manifest. Frozen codebooks are the FAISS deployment contract, but a
    frozen index silently degrades under distribution shift: vectors far
    from every trained centroid quantize badly (recall decays) and pile
    into few inverted lists (probe pruning stops helping). Both symptoms
    are measurable per delivery at append time for one extra column and a
    16-row count — no corpus rescan — so the manifest carries them and
    :func:`drift_report` thresholds them into a needs_retrain signal."""
    vecs = vectors.select("vec_id", "embedding").localCheckpoint(eager=False)
    codes = pq_encode_of(vecs, books["pq"], with_qerr=True).localCheckpoint(
        eager=True
    )
    assign = ivf_assign_of(spark, vecs, books["ivf"]).select(
        "vec_id", "cluster_id"
    ).localCheckpoint(eager=True)
    batch_float = vecs.select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    # corpus size BEFORE this delivery, from the manifests — sizes the
    # batch's self-sample rate
    prior = bs.committed_batches(root)
    n_prior = index_size(root)
    agg = codes.agg(
        F.count("*").alias("n"), F.avg("qerr").alias("mean_qerr")
    ).collect()[0]
    n_batch = int(agg["n"])
    # each delivery samples ITSELF at the commit-time corpus rate
    # (cap / running total): the truth pass then reads the union of
    # these per-batch samples — ~cap rows per committed epoch of corpus
    # doubling, never the corpus itself — so appends stay
    # delivery-linear in I/O, not just in compute. Older batches are
    # oversampled relative to later ones (their rate was set when the
    # corpus was smaller); the monitor's reference coverage is measured
    # under the same scheme, so the comparison is apples to apples.
    sample = _hash_subsample(
        batch_float, n_prior + n_batch, PROBE_RECALL_CORPUS_CAP, "vec_id"
    )
    bs.write_artifacts(
        root,
        batch,
        {
            "pq_codes": codes.select("vec_id", "codes", "approx_norm2"),
            "ivf_assign": assign,
            "delivered": vectors.select("vec_id"),
            # the store CARRIES its corpus (like the embedding store): raw
            # vectors are what a retrain re-trains and re-encodes against
            # — codes from the frozen books cannot be transcoded to new
            # books
            "vectors": batch_float,
            "recall_sample": sample,
        },
    )
    from ph_ee_nats_importer_rdbms_spark.sources.files import compact_for_write

    # the serving layout: codes joined into their inverted lists, one
    # partition dir per cluster — probes become a partition-pruned read
    # (search_store), the IndexIVFPQ shape save_ivf_store(with_codes=True)
    # materializes for staged datasets
    # keyed rebalance before the partitioned write (r13, guide §6): the
    # unkeyed join output scattered every cluster across every writer
    # task — one ≈1 KB file per (task, cluster) pair, 32 files per
    # cluster directory; clustering by cluster_id gives each directory
    # ~one advisory-sized file, so a pruned probe opens 1 file
    compact_for_write(
        codes.select("vec_id", "codes", "approx_norm2").join(assign, "vec_id"),
        "cluster_id",
    ).write.mode("overwrite").partitionBy("cluster_id").parquet(
        bs.batch_path(root, "lists", batch)
    )
    occ = {
        str(r["cluster_id"]): r["c"]
        for r in assign.groupBy("cluster_id").agg(F.count("*").alias("c")).collect()
    }
    # measured serving-recall input: the union of the committed
    # recall_sample artifacts and this delivery's sample — corpus-FREE
    # I/O, with the sampled neighbors' cluster ids recomputed in-flight
    # against the frozen centroids (deterministic: ivf_assign_of), so
    # neither the vectors nor the ivf_assign union is ever scanned at
    # append time
    if prior:
        sample = bs.read_union(
            spark, root, "recall_sample", _SCHEMAS["recall_sample"]
        ).unionByName(sample)
    probe_recall = _probe_coverage_stats(
        spark, vecs, n_batch, sample.localCheckpoint(eager=True), books["ivf"]
    )
    return {
        "n": int(agg["n"]),
        "mean_qerr": float(agg["mean_qerr"]) if agg["mean_qerr"] is not None else None,
        "occupancy": occ,
        "probe_recall": probe_recall,
    }


def build_vector_index(
    spark: SparkSession,
    vectors: DataFrame,
    root: str,
    ivf_codebook: list[list[float]],
    pq_books: list[list[list[float]]],
) -> None:
    """Full build from a (vec_id, embedding) relation: freeze the supplied
    codebooks into the store, encode every vector, commit."""
    os.makedirs(root, exist_ok=True)
    books = {"ivf": ivf_codebook, "pq": pq_books}
    with open(os.path.join(root, "codebooks.json"), "w") as f:
        json.dump(books, f)
    drift = _encode_and_write(spark, vectors, root, bs.BASE_BATCH, books)
    bs.commit(root, {"seq": 0, "batch": bs.BASE_BATCH, "drift": drift})


def append_vectors(
    spark: SparkSession,
    new_vectors: DataFrame,
    root: str,
    skip_committed: bool = False,
) -> dict:
    """Fold a vector delivery into the index: encode ONLY the new batch
    against the store's frozen codebooks and append. Raises ``ValueError``
    on a re-delivered vec_id (committed ``delivered`` relation) or an
    already-committed identical batch — unless ``skip_committed``, which
    turns the exact-batch replay into a no-op (the checkpoint-replay
    semantics the streaming sink needs for exactly-once)."""
    began = bs.begin_append(
        spark, new_vectors, root, "vec_id", "append_vectors",
        "already in the index", skip_committed,
    )
    if began is None:
        return {"new_vectors": 0, "skipped": True}
    committed, batch = began
    drift = _encode_and_write(
        spark, new_vectors, root, batch, frozen_codebooks(root)
    )
    bs.commit(root, {"seq": len(committed), "batch": batch, "drift": drift})
    return {"new_vectors": drift["n"], "drift": drift}


#: Drift thresholds (overridable per call). A delivery whose mean PQ
#: quantization error exceeds the BASE build's by 50%+ reconstructs
#: poorly against the frozen books; an IVF occupancy total-variation
#: distance above 0.25 means a quarter of the delivery's probability
#: mass sits in different inverted lists than the trained distribution —
#: either one is the retrain signal (FAISS guidance: retrain when the
#: indexed distribution departs from the training sample).
QERR_RATIO_THRESHOLD = 1.5
OCCUPANCY_TVD_THRESHOLD = 0.25

#: MEASURED serving-recall drift (round 8 — the vector-store twin of the
#: embedding store's per-delivery measured band recall): qerr watches the
#: PQ books and occupancy-TVD watches list BALANCE, but neither observes
#: the quantity serving actually depends on — whether a query's true
#: neighbors still live inside its nprobe probed lists. Each delivery
#: therefore measures PROBE COVERAGE: sample up to
#: ``PROBE_RECALL_QUERY_SAMPLE`` delivery vectors as queries, take their
#: exact top-``PROBE_RECALL_K`` neighbors over the union of the stores'
#: per-batch ``recall_sample`` artifacts — each delivery hash-samples
#: ITSELF at commit-time rate ``PROBE_RECALL_CORPUS_CAP / running
#: total``, so the truth pass reads a few-×-cap rows however large the
#: corpus grows and appends stay delivery-linear in I/O as well as
#: compute (top-k within a deterministic subsample are genuinely near
#: points; the estimate carries more variance, which the noise margin
#: absorbs) — and record what fraction sit in the query's
#: IVF_PQ_NPROBE probed clusters, with the sampled neighbors' cluster
#: ids recomputed in-flight against the frozen centroids (no ivf_assign
#: scan either). Append-time only, never on a serving path. The BASE build's coverage is the reference; a
#: delivery trips when its coverage falls below
#: ``PROBE_RECALL_RATIO_THRESHOLD`` x base minus a binomial noise margin
#: of ``incremental_embeddings.RECALL_FLOOR_MARGIN_SD`` standard errors
#: (shared constant). The margin treats the query x k neighbor pairs as
#: independent trials, which understates variance when one query's
#: neighbors cluster — the ratio threshold is deliberately loose (0.6)
#: so that conservatism, not the margin alone, carries the no-false-flag
#: property.
PROBE_RECALL_QUERY_SAMPLE = 16
PROBE_RECALL_K = 10
PROBE_RECALL_CORPUS_CAP = 20_000
PROBE_RECALL_RATIO_THRESHOLD = 0.6


def _hash_subsample(df: DataFrame, n_total: int, cap: int, key: str) -> DataFrame:
    """Store-salted view of the shared :func:`batch_store.hash_subsample`."""
    return bs.hash_subsample(df, n_total, cap, key, "probe-recall")


def _probe_coverage_stats(
    spark: SparkSession,
    batch_vecs: DataFrame,
    n_batch: int,
    sample: DataFrame,
    ivf_cb,
) -> dict:
    """{queries, k, corpus_cap, possible, covered} for one delivery — the
    manifest's measured serving-recall input (see the constants block).
    ``sample`` is the union of the per-batch recall samples, already
    capped, so it is the truth corpus as is; ``n_batch`` comes from a
    count the caller already has, so the measurement adds no
    cardinality jobs."""
    from pyspark.sql import Window

    from ph_ee_nats_importer_rdbms_spark.analytics.dedup import _dot, _norm
    from ph_ee_nats_importer_rdbms_spark.analytics.vector_kernels import (
        IVF_PQ_NPROBE,
        probes_for,
    )

    queries = (
        batch_vecs.orderBy("vec_id")
        .limit(PROBE_RECALL_QUERY_SAMPLE)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
        )
        .localCheckpoint(eager=True)
    )
    corpus = sample.select("vec_id", "embedding")
    cent = F.broadcast(
        spark.createDataFrame(
            [(cid, [float(v) for v in vec]) for cid, vec in enumerate(ivf_cb)],
            "cid INT, cemb ARRAY<DOUBLE>",
        )
    )
    probes = probes_for(
        spark, None, queries, nprobe=IVF_PQ_NPROBE, cent=cent
    ).select("query_id", "cluster_id")
    cos = _dot("q_emb", "embedding") / (_norm("q_emb") * _norm("embedding"))
    w = Window.partitionBy("query_id").orderBy(
        F.round(cos, 6).desc(), F.col("vec_id").asc()
    )
    truth = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= PROBE_RECALL_K)
        .select("query_id", "vec_id")
        .localCheckpoint(eager=True)
    )
    assign = ivf_assign_of(spark, sample, ivf_cb).select("vec_id", "cluster_id")
    covered = (
        truth.join(assign, "vec_id")
        .join(F.broadcast(probes), ["query_id", "cluster_id"], "leftsemi")
        .count()
    )
    return {
        "queries": min(PROBE_RECALL_QUERY_SAMPLE, n_batch),
        "k": PROBE_RECALL_K,
        "corpus_cap": PROBE_RECALL_CORPUS_CAP,
        "possible": truth.count(),
        "covered": int(covered),
    }


_DRIFT_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.IntegerType()),
        T.StructField("batch", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("mean_qerr", T.DoubleType()),
        T.StructField("qerr_ratio", T.DoubleType()),
        T.StructField("occupancy_tvd", T.DoubleType()),
        T.StructField("tvd_noise_floor", T.DoubleType()),
        T.StructField("probe_possible", T.LongType()),
        T.StructField("probe_recall", T.DoubleType()),
        T.StructField("probe_recall_ref", T.DoubleType()),
        T.StructField("probe_recall_low", T.BooleanType()),
        T.StructField("needs_retrain", T.BooleanType()),
    ]
)


def _probe_recall_of(d: dict | None) -> tuple:
    """(possible, recall) from a manifest's probe_recall stats; recall is
    None when nothing was measurable (no stats, or no true pairs)."""
    pr = (d or {}).get("probe_recall")
    if not pr or not pr.get("possible"):
        return None, None
    return int(pr["possible"]), pr["covered"] / pr["possible"]


def _probe_recall_low(
    possible: int | None, recall: float | None, ref: float | None,
    ratio_threshold: float,
) -> bool | None:
    """Noise-guarded coverage trip: measured coverage more than
    ``incremental_embeddings.RECALL_FLOOR_MARGIN_SD`` binomial standard
    errors below ratio_threshold x the base build's coverage (the margin
    constant is shared with the embedding store's recall trip — one
    tuning site). Unknown inputs -> None (never a trip). The binomial SE
    treats query x k pairs as independent, which understates variance
    when one query's neighbors cluster; the loose ratio threshold (not
    the margin alone) carries the no-false-flag property."""
    import math

    from ph_ee_nats_importer_rdbms_spark.analytics.incremental_embeddings import (
        RECALL_FLOOR_MARGIN_SD,
    )

    if possible is None or recall is None or ref is None:
        return None
    target = ratio_threshold * ref
    margin = RECALL_FLOOR_MARGIN_SD * math.sqrt(
        max(target * (1 - target), 0.0) / possible
    )
    return bool(recall < target - margin)


def _tvd(p: dict[str, int], q: dict[str, int]) -> float | None:
    """Total variation distance between two occupancy histograms."""
    np_, nq = sum(p.values()), sum(q.values())
    if not np_ or not nq:
        return None
    keys = set(p) | set(q)
    return 0.5 * sum(
        abs(p.get(k, 0) / np_ - q.get(k, 0) / nq) for k in keys
    )


def _tvd_noise_floor(n: int | None, k: int) -> float | None:
    """Expected TVD of an n-sample empirical histogram against its own
    k-category source distribution — the SAMPLING NOISE a small delivery
    shows even with zero real drift (E|p̂-p| ~ sqrt(2p(1-p)/(pi n)) per
    cell, ~ 0.5*sqrt(2k/(pi n)) summed at uniform p). A 30-vector
    delivery over 16 lists measures ~0.29 TVD by chance alone, which
    would false-trip the 0.25 threshold; the trip rule therefore
    requires tvd > threshold + noise_floor(n)."""
    import math

    if not n:
        return None
    return 0.5 * math.sqrt(2.0 * k / (math.pi * n))


def drift_report(
    spark: SparkSession,
    root: str,
    qerr_ratio_threshold: float = QERR_RATIO_THRESHOLD,
    occupancy_tvd_threshold: float = OCCUPANCY_TVD_THRESHOLD,
    probe_recall_ratio_threshold: float = PROBE_RECALL_RATIO_THRESHOLD,
) -> DataFrame:
    """Per-delivery codebook-drift relation, thresholded into a
    ``needs_retrain`` flag — one row per committed batch, computed
    entirely from the commit manifests (config-sized; no data scan).

    The BASE build's statistics are the reference: its quantization error
    is what the codebooks were trained to minimize, its occupancy is the
    trained list distribution, and its measured probe coverage (round 8)
    is the serving recall the frozen index delivered at build time — a
    delivery whose sampled true neighbors stop landing in the probed
    lists trips the flag even when qerr and occupancy look healthy.
    Deliveries committed by pre-upgrade code carry no drift stats and
    surface as NULL metrics with a NULL flag (unknown, not healthy)."""
    rows = []
    manifests = bs.committed_batches(root)
    base = next((m.get("drift") for m in manifests if m.get("drift")), None)
    _, base_recall = _probe_recall_of(base)
    for m in manifests:
        d = m.get("drift")
        if not d or base is None:
            # the recall reference is a store-level constant — populate
            # it even on unknown rows so the column reads uniformly
            rows.append(
                (m["seq"], m["batch"], None, None, None, None, None,
                 None, None, base_recall, None, None)
            )
            continue
        # mean_qerr == 0.0 is a LEGITIMATE reference (tiny corpora where
        # codes reconstruct exactly), not a missing one — only a None
        # reference disables the ratio, and a zero reference with a
        # nonzero delivery is infinite drift, not no drift. The TVD
        # signal never depends on qerr availability.
        bq, dq = base.get("mean_qerr"), d.get("mean_qerr")
        if bq is None or dq is None:
            ratio = None
        elif bq > 0:
            ratio = dq / bq
        else:
            ratio = float("inf") if dq > 0 else 1.0
        tvd = _tvd(d.get("occupancy", {}), base.get("occupancy", {}))
        noise = _tvd_noise_floor(
            d.get("n"), max(len(base.get("occupancy", {})), 1)
        )
        possible, recall = _probe_recall_of(d)
        low = _probe_recall_low(
            possible, recall, base_recall, probe_recall_ratio_threshold
        )
        trip = (
            (ratio is not None and ratio > qerr_ratio_threshold)
            or (
                tvd is not None
                and noise is not None
                and tvd > occupancy_tvd_threshold + noise
            )
            or bool(low)
        )
        rows.append(
            (
                m["seq"],
                m["batch"],
                d.get("n"),
                d.get("mean_qerr"),
                ratio,
                tvd,
                noise,
                possible,
                recall,
                base_recall,
                low,
                trip,
            )
        )
    return spark.createDataFrame(rows, _DRIFT_SCHEMA)


def needs_retrain(
    spark: SparkSession,
    root: str,
    qerr_ratio_threshold: float = QERR_RATIO_THRESHOLD,
    occupancy_tvd_threshold: float = OCCUPANCY_TVD_THRESHOLD,
    probe_recall_ratio_threshold: float = PROBE_RECALL_RATIO_THRESHOLD,
) -> bool:
    """True when ANY committed delivery trips a drift threshold — the
    operational answer to 'is this frozen index still serving the
    distribution it was trained on'."""
    report = drift_report(
        spark,
        root,
        qerr_ratio_threshold,
        occupancy_tvd_threshold,
        probe_recall_ratio_threshold,
    )
    return bool(
        report.filter(F.col("needs_retrain")).limit(1).collect()
    )


def store_vectors(spark: SparkSession, root: str) -> DataFrame:
    """(vec_id, embedding) across committed batches — the corpus the
    store carries for retraining and the exact re-rank."""
    return bs.read_union(spark, root, "vectors", _SCHEMAS["vectors"])


#: PQ sub-codebook training is SAMPLE-based by contract (the FAISS
#: train-then-add model: training wants a representative sample, typically
#: 1e4-1e6 vectors, never the full corpus) — so the driver-side Lloyd
#: kernel stays memory-bounded at any corpus size. IVF centroids train
#: distributed (pyspark.ml KMeans), no bound needed.
PQ_TRAIN_SAMPLE_MAX = 100_000


def train_codebooks(
    spark: SparkSession,
    vectors: DataFrame,
    k_ivf: int = 16,
    m: int = 8,
    k_pq: int = 16,
    seeds=(7, 11, 13),
    max_iter: int = 40,
    sample_max: int = PQ_TRAIN_SAMPLE_MAX,
) -> tuple[list[list[float]], list[list[list[float]]]]:
    """Train fresh (IVF centroids, PQ sub-codebooks) over a
    (vec_id, embedding) relation — the package-level twin of
    tools/train_{ivf_centroids,pq_codebooks}.py, for stores that must
    retrain from their own corpus rather than a shipped artifact.

    IVF: distributed cosine k-means (``pyspark.ml.clustering.KMeans``),
    best training cost over ``seeds`` — scales with the cluster. PQ: the
    same per-subspace Lloyd fold the shipped-artifact tool uses, over a
    seed-deterministic sample capped at ``sample_max`` rows (training on
    a sample IS the PQ contract; the ENCODE of the full corpus stays
    distributed in :func:`build_vector_index`)."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = vectors.select(array_to_vector("embedding").alias("features"))
    emb = emb.localCheckpoint(eager=True)  # several seeds off one scan
    best_cost, best = float("inf"), None
    for seed in seeds:
        model = KMeans(
            k=k_ivf, seed=seed, maxIter=max_iter, distanceMeasure="cosine"
        ).fit(emb)
        if model.summary.trainingCost < best_cost:
            best_cost, best = model.summary.trainingCost, model
    ivf_cb = [
        [float(v) for v in np.asarray(c, dtype=np.float32)]
        for c in best.clusterCenters()
    ]

    n = vectors.count()
    sample = vectors.select("embedding")
    if n > sample_max:
        sample = sample.sample(fraction=min(1.0, sample_max / n), seed=seeds[0])
    rows = sample.toPandas()["embedding"]
    x = np.asarray([np.asarray(v, dtype=np.float64) for v in rows])
    dim = x.shape[1]
    dsub = dim // m
    pq_cb = []
    for mi in range(m):
        sub = x[:, mi * dsub : (mi + 1) * dsub]
        best_c, best_cost = None, float("inf")
        for seed in seeds:
            c, cost = _lloyd(sub, k_pq, max_iter, seed)
            if cost < best_cost:
                best_c, best_cost = c, cost
        pq_cb.append(
            [[float(v) for v in np.asarray(c, dtype=np.float32)] for c in best_c]
        )
    return ivf_cb, pq_cb


def _lloyd(x, k: int, iters: int, seed: int):
    """k-means++ init + Lloyd iterations on one PQ subspace (numpy,
    sample-bounded input). Same kernel as tools/train_pq_codebooks.py."""
    import numpy as np

    rng = np.random.default_rng(seed)
    cents = [x[rng.choice(len(x))]]
    for _ in range(k - 1):
        d2 = np.min(
            ((x[:, None, :] - np.asarray(cents)[None, :, :]) ** 2).sum(-1),
            axis=1,
        )
        probs = d2 / d2.sum() if d2.sum() > 0 else None
        cents.append(x[rng.choice(len(x), p=probs)])
    c = np.asarray(cents, dtype=np.float64)
    for _ in range(iters):
        d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(-1)
        assign = d2.argmin(axis=1)
        new_c = np.vstack(
            [
                x[assign == j].mean(axis=0) if np.any(assign == j) else c[j]
                for j in range(k)
            ]
        )
        if np.allclose(new_c, c):
            c = new_c
            break
        c = new_c
    d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(-1)
    return c, float(d2.min(axis=1).sum())


def retrain_store(
    spark: SparkSession,
    old_root: str,
    new_root: str,
    seeds=(7, 11, 13),
    sample_max: int = PQ_TRAIN_SAMPLE_MAX,
) -> None:
    """The action ``needs_retrain`` calls for: regenerate the store over
    its own committed corpus into ``new_root`` with FRESHLY TRAINED
    codebooks/centroids sized like the frozen ones (same k, m) — the
    remedy twin of ``incremental_embeddings.rebuild_store`` for the OTHER
    frozen artifact, the quantizers.

    Train-then-add makes in-place repair impossible: codes produced by
    two training runs are not comparable, so no committed pq_codes /
    ivf_assign artifact can be transcoded — the only correct response to
    codebook drift is retrain + full re-encode, which is exactly a fresh
    :func:`build_vector_index` over the union corpus. The new store's
    base drift statistics are measured against the new books, so
    ``needs_retrain(new_root)`` starts False and subsequent deliveries
    are judged against the re-trained reference. The old store stays
    intact until the caller swaps readers to ``new_root`` (a pointer
    update, never an in-place mutation)."""
    vectors = store_vectors(spark, old_root).select(
        "vec_id", "embedding"
    ).localCheckpoint(eager=False)
    old = frozen_codebooks(old_root)
    ivf_cb, pq_cb = train_codebooks(
        spark,
        vectors,
        k_ivf=len(old["ivf"]),
        m=len(old["pq"]),
        k_pq=len(old["pq"][0]),
        seeds=seeds,
        sample_max=sample_max,
    )
    build_vector_index(spark, vectors, new_root, ivf_cb, pq_cb)


def index_size(root: str) -> int:
    """Corpus cardinality from the commit manifests' drift stats (every
    build and append records the batch's ``n``) — zero Spark jobs (the
    refine-pool sizing must not pay a count per query call, same
    contract as similarity.pq_corpus_size)."""
    return sum(int(m["drift"]["n"]) for m in bs.committed_batches(root))


def read_lists(
    spark: SparkSession, root: str, cluster_ids=None
) -> DataFrame:
    """(vec_id, codes, approx_norm2, cluster_id) across committed batches,
    from the hive-partitioned serving layout. ``cluster_ids`` prunes the
    read to those inverted lists — the isin reaches the scan as
    PartitionFilters (plan-asserted), so a probe touches nprobe/nlist of
    the files, never the corpus."""
    from functools import reduce

    # one partitioned root per batch: Spark refuses multiple hive roots in
    # a single read, so each batch loads separately and unions — the
    # cluster_id filter pushes through the union into every scan
    parts = [
        spark.read.schema(_SCHEMAS["lists"]).parquet(
            bs.batch_path(root, "lists", m["batch"])
        )
        for m in bs.committed_batches(root)
    ]
    df = reduce(DataFrame.unionByName, parts)
    if cluster_ids is not None:
        df = df.filter(F.col("cluster_id").isin(list(cluster_ids)))
    return df


def search_store(
    spark: SparkSession,
    root: str,
    queries: DataFrame,
    k: int | None = None,
    n_queries: int | None = None,
    variant: str = "auto",
    exclude_self: bool = False,
    lut: str = "auto",
) -> DataFrame:
    """Serve top-``k`` ANN straight from THIS incrementally-maintained
    store — committed PQ codes + IVF assignments + frozen codebooks; the
    raw corpus tables are never touched except for the exact re-rank,
    which reads the store's own carried vectors. The serving composition
    is ``similarity._ann_search_impl``, shared with the staged-dataset
    :func:`similarity.ann_search`, so the two paths cannot drift —
    store-backed results equal dataset-backed results for the same corpus
    and books (pinned by test_incremental_vectors). Completes the store's
    lifecycle: build → append (drift-watched) → retrain → SERVE.

    ``exclude_self`` defaults False here: store query ids are foreign by
    convention (the store carries no fixed query set)."""
    from ph_ee_nats_importer_rdbms_spark.analytics import similarity as sim

    books = frozen_codebooks(root)
    # LocalTableScan, not a python-RDD: the store serving plan is
    # memoized, so the centroid relation is re-executed per query call —
    # see sources.files.local_rel
    cent = F.broadcast(
        local_rel(
            spark,
            [
                (cid, [float(v) for v in vec])
                for cid, vec in enumerate(books["ivf"])
            ],
            T.StructType(
                [
                    T.StructField("cid", T.IntegerType()),
                    T.StructField("cemb", T.ArrayType(T.DoubleType())),
                ]
            ),
        )
    )
    return sim._ann_search_impl(
        spark,
        queries,
        codes_t=read_codes(spark, root),
        vectors=store_vectors(spark, root),
        assign=lambda: read_assignments(spark, root),
        cent=lambda: cent,
        books=books["pq"],
        corpus_size=lambda: index_size(root),
        k=k if k is not None else sim.TOP_K,
        n_queries=n_queries,
        variant=variant,
        exclude_self=exclude_self,
        lut=lut,
        # partition-pruned candidate reads from the inverted-list layout
        # (small-query ivf_pq route)
        lists=lambda ids: read_lists(spark, root, ids),
    )


# --- staged store: the registry's store-backed serving artifact -----------

def _build_staged_store(spark: SparkSession, sf_dir: str, root: str) -> None:
    """Deterministic two-delivery build over the dataset's embeddings with
    the dataset's SHIPPED codebooks — even vec_ids as the base build, odd
    vec_ids appended — the exact shape
    test_search_store_matches_dataset_backed_ann_search pins to equal the
    staged-dataset ``ann_search``. Two deliveries (not one) so the staged
    artifact exercises the append path the store exists for."""
    from ph_ee_nats_importer_rdbms_spark.analytics.vector_kernels import (
        _codebook,
        _pq_books,
    )
    from ph_ee_nats_importer_rdbms_spark.sources.files import load_table, spread

    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    build_vector_index(
        spark,
        e.filter(F.col("vec_id") % 2 == 0),
        root,
        _codebook(sf_dir),
        _pq_books(sf_dir),
    )
    append_vectors(spark, e.filter(F.col("vec_id") % 2 == 1), root)


def staged_store_root(spark: SparkSession, sf_dir: str) -> str:
    """Root of the dataset's staged incremental vector store — built once
    per (dataset, code) fingerprint, like every other staged serving
    artifact (plans/staging.py — see ``staging.artifact_tree`` for the
    completeness/race/cache-disabled semantics). This is the artifact
    the registry's ``ann_search_store`` entry serves from, so the
    driver's oracle gate covers the STORE-backed read path, not just the
    staged-dataset one (VERDICT r7 task #2)."""
    from ph_ee_nats_importer_rdbms_spark.plans import staging

    return staging.artifact_tree(
        spark,
        sf_dir,
        "vstore",
        "vector_store",
        lambda root: _build_staged_store(spark, sf_dir, root),
        "embeddings.parquet",
    )
