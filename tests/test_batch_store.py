"""The shared manifest layer of the incremental stores
(analytics/batch_store.py).

Every store — docs (and curation on top of it), vectors, embeddings,
training — appends through ``batch_store.begin_append`` and commits
through ``batch_store.commit``. This module pins that layer through the
stores that use it:

- payload-aware batch ids: a byte-identical replay is skipped under
  ``skip_committed``, a same-ids-different-payload delivery gets a fresh
  id and is REJECTED by the re-delivery guard (not skipped as a replay);
- commit manifests stamp the batch-id scheme, and a manifest of the old
  key-set scheme is not recognized as a replay: its delivery fails on
  the delivered-keys guard;
- delivery-time sizing reads parquet footers: each store's append may
  run only the count() jobs whose numbers no footer carries, and
  ``artifact_count`` raises on a never-written artifact.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ph_ee_nats_importer_rdbms_spark.analytics import batch_store as bs
from ph_ee_nats_importer_rdbms_spark.sources.files import load_table, spread


# ---------------------------------------------------------------------------
# payload-aware batch ids + id-scheme stamp
# ---------------------------------------------------------------------------


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_DOC_ROWS = [
    (1, "alpha beta gamma delta epsilon zeta eta theta"),
    (2, "alpha beta gamma delta epsilon zeta eta iota"),
    (3, "one two three four five six seven eight"),
]
_DOC_BATCH2 = [
    (10, "alpha beta gamma delta epsilon zeta eta theta"),
    (11, "red orange yellow green blue indigo violet ultraviolet"),
]


def test_docs_store_same_ids_different_payload_rejected(spark, tmp_path):
    from ph_ee_nats_importer_rdbms_spark.analytics import incremental_docs as inc

    root = str(tmp_path / "docs")
    inc.build_index(spark, _docs_df(spark, _DOC_ROWS), root)
    inc.append_batch(spark, _docs_df(spark, _DOC_BATCH2), root)

    # byte-identical replay: skipped under skip_committed
    stats = inc.append_batch(
        spark, _docs_df(spark, _DOC_BATCH2), root, skip_committed=True
    )
    assert stats.get("skipped") is True

    # same doc_ids, DIFFERENT text: must raise even with skip_committed —
    # this is a conflicting delivery, not a replay (the r5 advice bug)
    mutated = [(10, "totally different content here now"), _DOC_BATCH2[1]]
    with pytest.raises(ValueError, match="already in the store"):
        inc.append_batch(
            spark, _docs_df(spark, mutated), root, skip_committed=True
        )


def test_scheme1_manifest_replay_fails_on_delivered_guard(spark, tmp_path):
    """A manifest committed under the old key-set id scheme (no
    ``id_scheme`` field, a different batch id) is not a replay of the
    current-scheme id: replaying its delivery raises on the
    delivered-keys guard instead of being skipped."""
    from ph_ee_nats_importer_rdbms_spark.analytics import incremental_docs as inc

    root = str(tmp_path / "docs")
    inc.build_index(spark, _docs_df(spark, _DOC_ROWS), root)
    batch2 = _docs_df(spark, _DOC_BATCH2)
    inc.append_batch(spark, batch2, root)

    (m,) = [m for m in bs.committed_batches(root) if m["seq"] == 1]
    old, new = m["batch"], "0123456789abcdef"
    for art in os.listdir(root):
        if os.path.isdir(bs.batch_path(root, art, old)):
            os.rename(bs.batch_path(root, art, old), bs.batch_path(root, art, new))
    mdir = bs.manifest_dir(root)
    os.remove(os.path.join(mdir, bs.manifest_name(m)))
    m.pop("id_scheme")
    m["batch"] = new
    with open(os.path.join(mdir, bs.manifest_name(m)), "w") as f:
        json.dump(m, f)

    with pytest.raises(ValueError, match="already in the store"):
        inc.append_batch(spark, batch2, root, skip_committed=True)


def _vec_df(spark, ids, scale=1.0):
    import math

    rows = [
        (
            int(i),
            [
                float(scale) * math.sin(0.1 * i * (d + 1))
                for d in range(64)
            ],
        )
        for i in ids
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_vector_index_same_ids_different_payload_rejected(spark, tmp_path):
    from ph_ee_nats_importer_rdbms_spark.analytics import incremental_vectors as iv
    from ph_ee_nats_importer_rdbms_spark.analytics.similarity import (
        IVF_CODEBOOKS,
        PQ_CODEBOOKS,
    )

    root = str(tmp_path / "vec")
    iv.build_vector_index(
        spark,
        _vec_df(spark, range(100, 120)),
        root,
        IVF_CODEBOOKS["default"],
        PQ_CODEBOOKS["default"],
    )
    batch2 = _vec_df(spark, range(200, 210))
    iv.append_vectors(spark, batch2, root)
    assert iv.append_vectors(spark, batch2, root, skip_committed=True) == {
        "new_vectors": 0,
        "skipped": True,
    }
    mutated = _vec_df(spark, range(200, 210), scale=2.0)
    with pytest.raises(ValueError, match="already in the index"):
        iv.append_vectors(spark, mutated, root, skip_committed=True)


def test_embedding_store_same_ids_different_payload_rejected(spark, tmp_path):
    from ph_ee_nats_importer_rdbms_spark.analytics import (
        incremental_embeddings as ie,
    )

    root = str(tmp_path / "emb")
    ie.build_embedding_store(spark, _vec_df(spark, range(1, 31)), root)
    batch2 = _vec_df(spark, range(50, 60))
    ie.append_embedding_batch(spark, batch2, root)
    stats = ie.append_embedding_batch(spark, batch2, root, skip_committed=True)
    assert stats.get("skipped") is True
    mutated = _vec_df(spark, range(50, 60), scale=3.0)
    with pytest.raises(ValueError, match="already in the"):
        ie.append_embedding_batch(spark, mutated, root, skip_committed=True)


def test_commit_manifests_record_id_scheme(spark, tmp_path):
    root = str(tmp_path / "s")
    bs.commit(root, {"seq": 0, "batch": "base"})
    assert bs.committed_batches(root)[0]["id_scheme"] == bs.ID_SCHEME


# ---------------------------------------------------------------------------
# delivery-time sizing from footers: count() budgets per store
# ---------------------------------------------------------------------------


@pytest.fixture()
def count_recorder(monkeypatch):
    """Instrument DataFrame.count: every call still runs, but is
    recorded. Returns the call list (len == number of count jobs)."""
    calls: list[str] = []
    import pyspark.sql.classic.dataframe as cdf

    orig = cdf.DataFrame.count

    def recording(self, *a, **k):
        calls.append("count")
        return orig(self, *a, **k)

    monkeypatch.setattr(cdf.DataFrame, "count", recording, raising=True)
    return calls


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def test_docs_store_delivery_counting_budget(
    spark, sf_dir, tmp_path, count_recorder
):
    """A doc-store append runs at most ONE count job (the CC size-router
    on the staged pair edges); the delivery stats come from footers."""
    from ph_ee_nats_importer_rdbms_spark.analytics import incremental_docs as idc

    d = _docs(spark, sf_dir)
    root = str(tmp_path / "docs")
    idc.build_index(spark, d.filter(F.col("doc_id") % 2 == 0), root)

    count_recorder.clear()
    second = d.filter(F.col("doc_id") % 2 == 1)
    stats = idc.append_batch(spark, second, root)
    assert len(count_recorder) <= 1, (
        f"{len(count_recorder)} count jobs in a doc-store delivery "
        "(budget: 1 — the CC size-router)"
    )
    # footer-derived stats are the true cardinalities
    assert stats["new_docs"] == second.count()


def test_training_store_delivery_counting_budget(
    spark, sf_dir, tmp_path, count_recorder
):
    """A pack-store append runs at most ONE count job — the distinct
    (shard, seq) count, the one number no footer carries."""
    from ph_ee_nats_importer_rdbms_spark.analytics import (
        incremental_training as it,
    )

    d = _docs(spark, sf_dir)
    root = str(tmp_path / "pack")
    it.build_pack_store(spark, d.filter(F.col("doc_id") % 2 == 0), root)

    count_recorder.clear()
    second = d.filter(F.col("doc_id") % 2 == 1)
    stats = it.append_pack_batch(spark, second, root)
    assert len(count_recorder) <= 1, (
        f"{len(count_recorder)} count jobs in a pack-store delivery "
        "(budget: 1 — the distinct-sequence count)"
    )
    assert stats["new_docs"] == second.count()


def test_embedding_store_delivery_counting_budget(
    spark, sf_dir, tmp_path, count_recorder
):
    """An embedding-store append runs at most THREE count jobs: the CC
    size-router plus the two measured-recall statistics (true pairs /
    caught pairs — the measurement itself). Sizing (n, n_prior,
    new_pairs) folds from footers."""
    from ph_ee_nats_importer_rdbms_spark.analytics import (
        incremental_embeddings as ie,
    )

    v = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    root = str(tmp_path / "emb")
    ie.build_embedding_store(spark, v.filter(F.col("vec_id") % 2 == 0), root)

    count_recorder.clear()
    second = v.filter(F.col("vec_id") % 2 == 1)
    stats = ie.append_embedding_batch(spark, second, root)
    assert len(count_recorder) <= 3, (
        f"{len(count_recorder)} count jobs in an embedding-store delivery "
        "(budget: 3 — CC router + 2 recall measurements)"
    )
    assert stats["new_vectors"] == second.count()


def test_artifact_count_raises_on_missing_artifact(tmp_path):
    """A sizing read against a never-written artifact is a bug, not an
    empty store — artifact_count must raise, never return 0."""
    with pytest.raises(FileNotFoundError):
        bs.artifact_count(str(tmp_path), "delivered", "nope")
