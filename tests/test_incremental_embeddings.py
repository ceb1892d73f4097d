"""Incremental embedding near-dup store (analytics/incremental_embeddings.py).

Parity contract: after any sequence of vector deliveries, pairs and
labels equal a from-scratch build of the union corpus with the same
frozen hyperplanes — and a whole-corpus store build reproduces the
oracle-checked `embedding_dups` / `embedding_dup_clusters` registry
outputs exactly.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ph_ee_nats_importer_rdbms_spark.analytics import (
    batch_store as bs,
    incremental_embeddings as ie,
)
from ph_ee_nats_importer_rdbms_spark.sources.files import load_table, spread


import pytest

pytestmark = pytest.mark.slow  # heavy Spark gate; default selection skips (pytest.ini), round-close runs all


def _vectors(spark, sf_dir):
    return spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )


def _pairs(spark, root) -> set:
    return {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in ie.read_pairs(spark, root).collect()
    }


def _labels(spark, root) -> set:
    return {
        (r["node"], r["label"]) for r in ie.read_labels(spark, root).collect()
    }


def test_store_build_matches_registry_queries(spark, sf_dir, tmp_path):
    from ph_ee_nats_importer_rdbms_spark.analytics.dedup import (
        q_embedding_dup_clusters,
        q_embedding_dups,
    )

    root = str(tmp_path / "emb")
    ie.build_embedding_store(spark, _vectors(spark, sf_dir), root)
    assert _pairs(spark, root) == {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in q_embedding_dups(spark, sf_dir).collect()
    }
    got = {
        tuple(r) for r in ie.read_clusters(spark, root).collect()
    }
    want = {
        tuple(r) for r in q_embedding_dup_clusters(spark, sf_dir).collect()
    }
    assert got == want and got, "corpus contains embedding near-dups"


def test_append_matches_full_rebuild(spark, sf_dir, tmp_path):
    v = _vectors(spark, sf_dir)
    first = v.filter(F.col("vec_id") % 3 != 0)
    second = v.filter(F.col("vec_id") % 3 == 0)

    root = str(tmp_path / "inc")
    ie.build_embedding_store(spark, first, root)
    stats = ie.append_embedding_batch(spark, second, root)
    assert stats["new_vectors"] == second.count()

    full = str(tmp_path / "full")
    ie.build_embedding_store(
        spark, v, full, planes=ie.frozen_planes(root)
    )
    assert _pairs(spark, root) == _pairs(spark, full)
    assert _labels(spark, root) == _labels(spark, full)


def test_redelivery_guard_and_replay_skip(spark, sf_dir, tmp_path):
    import pytest as _pytest

    v = _vectors(spark, sf_dir)
    first = v.filter(F.col("vec_id") < 300)
    second = v.filter(F.col("vec_id") >= 300)
    root = str(tmp_path / "emb")
    ie.build_embedding_store(spark, first, root)
    ie.append_embedding_batch(spark, second, root)
    with _pytest.raises(ValueError, match="already committed"):
        ie.append_embedding_batch(spark, second, root)
    assert ie.append_embedding_batch(
        spark, second, root, skip_committed=True
    ) == {"new_vectors": 0, "skipped": True}
    with _pytest.raises(ValueError, match="already in the store"):
        ie.append_embedding_batch(spark, v.filter(F.col("vec_id") == 0), root)


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(salt=st.integers(0, 10**6), n_batches=st.integers(2, 3))
def test_fuzz_delivery_splits_match_full_rebuild(
    salt, n_batches, spark, sf_dir, tmp_path_factory
):
    base = tmp_path_factory.mktemp("incemb")
    root, full = str(base / "inc"), str(base / "full")
    v = _vectors(spark, sf_dir).filter(F.col("vec_id") < 200)
    split = F.abs(F.hash(F.col("vec_id") + F.lit(salt))) % n_batches
    batches = [v.filter(split == i) for i in range(n_batches)]
    batches = [b for b in batches if b.count() > 0]

    ie.build_embedding_store(spark, batches[0], root)
    for b in batches[1:]:
        ie.append_embedding_batch(spark, b, root)

    ie.build_embedding_store(spark, v, full, planes=ie.frozen_planes(root))
    assert _pairs(spark, root) == _pairs(spark, full)
    assert _labels(spark, root) == _labels(spark, full)


def test_streaming_deliveries_fold_into_store(spark, sf_dir, tmp_path):
    v = _vectors(spark, sf_dir)
    first = v.filter(F.col("vec_id") < 350)
    rest = v.filter(F.col("vec_id") >= 350)
    root = str(tmp_path / "emb")
    ie.build_embedding_store(spark, first, root)

    landing = str(tmp_path / "landing")
    rest.write.parquet(landing)
    stream = (
        spark.readStream.schema(rest.schema)
        .parquet(landing)
        .writeStream.foreachBatch(
            bs.foreach_batch_sink(ie.append_embedding_batch, root)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    stream.awaitTermination(120)

    full = str(tmp_path / "full")
    ie.build_embedding_store(spark, v, full, planes=ie.frozen_planes(root))
    assert _pairs(spark, root) == _pairs(spark, full)
    assert _labels(spark, root) == _labels(spark, full)


def _synth(spark, n, start=0):
    """Deterministic pseudo-random 64-dim vectors: cosines concentrate
    near 0, so the corpus contributes essentially no near-dup pairs and
    the tests isolate the structure-drift bookkeeping."""
    import random

    rows = []
    for i in range(start, start + n):
        rng = random.Random(i)
        rows.append((i, [rng.uniform(-1.0, 1.0) for _ in range(64)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_structure_drift_report_trips_on_corpus_growth(spark, tmp_path):
    """The frozen-band analog of the ANN store's codebook drift test: a
    store built (and auto-sized) for 256 vectors accumulates deliveries
    to 3x that size; expected occupancy grows past the design point AND
    embed_bands_for at the grown corpus picks a different structure, so
    the report flags the store for rebuild — at a thresholded ratio, not
    before, and never while a rebuild would change nothing."""
    import pytest

    root = str(tmp_path / "store")
    ie.build_embedding_store(spark, _synth(spark, 256), root)
    ie.append_embedding_batch(spark, _synth(spark, 256, 256), root)
    ie.append_embedding_batch(spark, _synth(spark, 256, 512), root)

    rows = (
        ie.structure_drift_report(spark, root, occupancy_ratio_threshold=1.2)
        .orderBy("seq")
        .collect()
    )
    assert [r["n_total"] for r in rows] == [256, 512, 768]
    assert [r["n"] for r in rows] == [256, 256, 256]
    # frozen structure is (1 band, 4 planes) for n=256; embed_bands_for
    # flips to 5 planes only past 512 vectors
    assert [r["structure_changed"] for r in rows] == [False, False, True]
    assert [r["needs_rebuild"] for r in rows] == [False, False, True]
    assert rows[2]["occupancy_ratio"] == pytest.approx(768 / 16 / 32)

    assert ie.needs_rebuild(spark, root, occupancy_ratio_threshold=1.2)
    # default threshold (4x design occupancy) is two more doublings away
    assert not ie.needs_rebuild(spark, root)


def test_structure_drift_unknown_for_pre_upgrade_manifests(spark, tmp_path):
    """Deliveries committed by pre-upgrade code carry no structure stats:
    their report rows surface as NULL metrics with a NULL flag (unknown,
    not healthy) and never trip needs_rebuild — the same contract pinned
    for the ANN store's drift_report."""
    import json
    import os

    from ph_ee_nats_importer_rdbms_spark.analytics import batch_store as bs

    root = str(tmp_path / "store")
    ie.build_embedding_store(spark, _synth(spark, 64), root)
    ie.append_embedding_batch(spark, _synth(spark, 64, 64), root)

    mdir = bs.manifest_dir(root)
    first = sorted(n for n in os.listdir(mdir) if n.endswith(".json"))[0]
    path = os.path.join(mdir, first)
    with open(path) as f:
        manifest = json.load(f)
    del manifest["structure_drift"]
    with open(path, "w") as f:
        json.dump(manifest, f)

    rows = ie.structure_drift_report(spark, root).orderBy("seq").collect()
    assert rows[0]["n_total"] is None
    assert rows[0]["occupancy_ratio"] is None
    assert rows[0]["needs_rebuild"] is None
    assert rows[1]["n_total"] == 128
    assert rows[1]["needs_rebuild"] is False
    assert not ie.needs_rebuild(spark, root)


def test_rebuild_resolves_structure_drift(spark, tmp_path):
    """rebuild_store is the action the flag calls for: rebuilding the
    grown store re-sizes the band structure to the current corpus, the
    drift ratio returns under threshold, and the corpus carries over
    intact."""
    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    ie.build_embedding_store(spark, _synth(spark, 256), old)
    ie.append_embedding_batch(spark, _synth(spark, 512, 256), old)
    assert ie.needs_rebuild(spark, old, occupancy_ratio_threshold=1.2)

    ie.rebuild_store(spark, old, new)
    assert not ie.needs_rebuild(spark, new, occupancy_ratio_threshold=1.2)
    row = ie.structure_drift_report(spark, new).collect()[0]
    assert row["n_total"] == 768
    assert not row["structure_changed"]
    s = ie.frozen_planes(new)
    assert s["planes_per_band"] == 5  # re-sized for 768, was 4 for 256

    old_ids = {r["vec_id"] for r in
               ie._store_vectors(spark, old).select("vec_id").collect()}
    new_ids = {r["vec_id"] for r in
               ie._store_vectors(spark, new).select("vec_id").collect()}
    assert new_ids == old_ids


def test_measured_recall_recorded_per_delivery(spark, sf_dir, tmp_path):
    """VERDICT r7 task #6: every commit manifest carries MEASURED band
    recall (sampled exact pairs at the floor cosine vs bucketed
    candidates). An exact-dup delivery (copies of committed vectors
    under new ids) has true pairs at cosine 1.0 that co-bucket in every
    band — measured recall 1.0, comfortably above the analytic floor,
    no trip."""
    import json
    import os

    from ph_ee_nats_importer_rdbms_spark.analytics import batch_store as bs

    v = _vectors(spark, sf_dir)
    root = str(tmp_path / "emb")
    ie.build_embedding_store(spark, v, root)
    dups = v.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + 5_000_000).alias("vec_id"), "embedding"
    )
    ie.append_embedding_batch(spark, dups, root)

    manifests = bs.committed_batches(root)
    assert all("recall" in m for m in manifests)
    last = manifests[-1]["recall"]
    assert last["sampled"] == 40
    assert last["true_pairs"] >= 40  # every copy pairs with its original
    assert last["caught_pairs"] == last["true_pairs"]

    rows = (
        ie.structure_drift_report(spark, root).orderBy("seq").collect()
    )
    floor = ie.analytic_recall_floor(ie.frozen_planes(root))
    assert rows[-1]["measured_recall"] == 1.0
    assert rows[-1]["recall_floor"] == floor and 0 < floor < 1
    assert rows[-1]["recall_low"] is False
    assert rows[-1]["needs_rebuild"] is False
    assert not ie.needs_rebuild(spark, root)


def test_recall_drop_below_floor_trips_needs_rebuild(
    spark, sf_dir, tmp_path
):
    """A delivery whose measured recall sits below the analytic floor
    beyond sampling noise trips needs_rebuild even when occupancy is
    healthy; a small-sample dip inside the noise margin does NOT (the
    same no-false-flag discipline as the ANN store's TVD floor)."""
    import json
    import os

    from ph_ee_nats_importer_rdbms_spark.analytics import batch_store as bs

    v = _vectors(spark, sf_dir)
    root = str(tmp_path / "emb")
    ie.build_embedding_store(spark, v.filter(F.col("vec_id") < 300), root)
    ie.append_embedding_batch(
        spark, v.filter(F.col("vec_id") >= 300), root
    )
    assert not ie.needs_rebuild(spark, root)

    mdir = bs.manifest_dir(root)
    last_name = sorted(
        n for n in os.listdir(mdir) if n.endswith(".json")
    )[-1]
    path = os.path.join(mdir, last_name)
    with open(path) as f:
        m = json.load(f)

    # genuine degradation: 10/100 caught, far below any floor
    m["recall"] = {
        "sampled": 64, "floor_cos": 0.8,
        "true_pairs": 100, "caught_pairs": 10,
    }
    with open(path, "w") as f:
        json.dump(m, f)
    rows = {r["seq"]: r for r in ie.structure_drift_report(spark, root).collect()}
    assert rows[max(rows)]["recall_low"] is True
    assert rows[max(rows)]["needs_rebuild"] is True
    assert ie.needs_rebuild(spark, root)

    # small-sample dip inside the binomial noise margin: unknown-ish, no trip
    m["recall"] = {
        "sampled": 3, "floor_cos": 0.8,
        "true_pairs": 3, "caught_pairs": 1,
    }
    with open(path, "w") as f:
        json.dump(m, f)
    rows = {r["seq"]: r for r in ie.structure_drift_report(spark, root).collect()}
    assert rows[max(rows)]["recall_low"] is False
    assert not ie.needs_rebuild(spark, root)

    # pre-upgrade manifests (no recall stats): unknown, never a trip
    del m["recall"]
    with open(path, "w") as f:
        json.dump(m, f)
    rows = {r["seq"]: r for r in ie.structure_drift_report(spark, root).collect()}
    assert rows[max(rows)]["measured_recall"] is None
    assert rows[max(rows)]["recall_low"] is None
    assert not ie.needs_rebuild(spark, root)
