"""Round-8 pins (VERDICT r7 tasks #3): the count-free discipline extends
past the ann_search router to the two residual sites adjacent to serving —
``_pq_query_lut``'s auto-site routing (now a bounded peek) and
``ann_ivf_pq_from_store``'s refine-pool sizing (now require-or-footer,
never a corpus count).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ph_ee_nats_importer_rdbms_spark.sources.files import load_table, spread


def _no_count_patch(monkeypatch):
    def no_count(self, *a, **k):  # pragma: no cover - must not run
        raise AssertionError("COUNT job on a count-free path")

    monkeypatch.setattr(
        "pyspark.sql.classic.dataframe.DataFrame.count", no_count,
        raising=True,
    )


def _queries(spark, sf_dir, n):
    e = spread(load_table(spark, sf_dir, "embeddings"))
    return e.filter(F.col("vec_id") < n).select(
        (F.col("vec_id") + 700_000).alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )


def test_pq_query_lut_auto_site_peeks_never_counts(
    spark, sf_dir, monkeypatch
):
    """Direct ``_pq_query_lut(site="auto", n_queries=None)`` callers (the
    path unreachable from ann_search but open to library users) must
    size-route with a bounded peek: small sets fold the peeked rows on
    the driver (no second job), large sets route to the engine LUT —
    never a count() over the query relation."""
    from ph_ee_nats_importer_rdbms_spark.analytics import similarity as sim

    _no_count_patch(monkeypatch)

    # small: driver site, the peek IS the LUT's row source
    small = sim._pq_query_lut(sf_dir, _queries(spark, sf_dir, 3))
    rows = small.collect()
    assert len(rows) == 3 and all(
        len(r["lut"]) == sim.PQ_M and r["q_norm"] > 0 for r in rows
    )

    # large (router cap lowered): bounded peek, engine site
    monkeypatch.setattr(sim, "PQ_LUT_DRIVER_MAX", 2)
    called = {}
    orig = sim._pq_query_lut_distributed

    def recording(*a, **k):
        called["engine"] = True
        return orig(*a, **k)

    monkeypatch.setattr(sim, "_pq_query_lut_distributed", recording)
    large = sim._pq_query_lut(sf_dir, _queries(spark, sf_dir, 5))
    assert called.get("engine"), "large route must use the engine-side LUT"
    assert len(large.collect()) == 5


def test_ann_ivf_pq_from_store_sizes_without_counting(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Refine-pool sizing for a with_codes store: parquet footers when
    readable, the caller's explicit n_store otherwise — an unreadable
    footer with no n_store raises instead of silently launching a
    corpus-wide count() (VERDICT r7 task #3)."""
    from ph_ee_nats_importer_rdbms_spark.analytics import similarity as sim
    from ph_ee_nats_importer_rdbms_spark.plans import staging

    store = str(tmp_path / "ivfpq_store")
    sim.save_ivf_store(spark, sf_dir, store, with_codes=True)
    n = staging.parquet_row_count(store)
    assert n and n > 0

    _no_count_patch(monkeypatch)

    # footer-readable: serves without any count job
    got = sorted(
        tuple(r)
        for r in sim.ann_ivf_pq_from_store(spark, sf_dir, store).collect()
    )
    assert got

    # footer unreadable: explicit n_store serves identically, still no job
    monkeypatch.setattr(staging, "parquet_row_count", lambda path: None)
    with_n = sorted(
        tuple(r)
        for r in sim.ann_ivf_pq_from_store(
            spark, sf_dir, store, n_store=n
        ).collect()
    )
    assert with_n == got

    # footer unreadable and no n_store: refuse loudly, never count
    with pytest.raises(ValueError, match="cannot size the refine pool"):
        sim.ann_ivf_pq_from_store(spark, sf_dir, store)


def test_recall_truth_pass_is_corpus_capped_and_deterministic(spark, sf_dir):
    """The measured-recall truth passes must not break the stores'
    delivery-linear append contract: above the cap, the corpus side of
    the exact-cosine pass is a DETERMINISTIC hash-subsample of ~cap
    rows; at or below the cap it is the identity."""
    from ph_ee_nats_importer_rdbms_spark.analytics import (
        incremental_vectors as iv,
    )

    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    n = e.count()  # derive, never hardcode the testdata cardinality
    # identity below the cap
    assert iv._hash_subsample(e, n, max(n, 20_000), "vec_id").count() == n
    # ~cap rows above it, deterministic across calls (band relative to
    # the cap so a regenerated testdata cardinality can't mis-calibrate)
    cap = max(10, n // 10)
    s1 = {r["vec_id"] for r in iv._hash_subsample(e, n, cap, "vec_id").select("vec_id").collect()}
    s2 = {r["vec_id"] for r in iv._hash_subsample(e, n, cap, "vec_id").select("vec_id").collect()}
    assert s1 == s2 and cap * 0.2 <= len(s1) <= cap * 3


def test_tenant_split_normalizes_empty_to_null_in_both_engines(spark):
    """F5 canonical no-tenant shape: no dash AND trailing dash both yield
    NULL, in Spark and in the DuckDB oracle expression — required for the
    tenant-partitioned stage to round-trip exactly (hive partitioning
    folds '' into NULL on read-back, so '' must never exist)."""
    import duckdb

    from ph_ee_nats_importer_rdbms_spark.functions.scalars import (
        first_dash_suffix,
    )

    ids = ["proc-tn1", "proc-", "proc", "a-b-c", "-lead"]
    got = {
        r["id"]: r["t"]
        for r in spark.createDataFrame([(s,) for s in ids], "id string")
        .select("id", first_dash_suffix("id").alias("t"))
        .collect()
    }
    assert got == {
        "proc-tn1": "tn1",
        "proc-": None,
        "proc": None,
        "a-b-c": "b-c",
        "-lead": "lead",
    }

    con = duckdb.connect()
    duck = "nullif(substr(s, length(split_part(s, '-', 1)) + 2), '')"
    want = {
        s: con.execute(
            f"SELECT {duck} FROM (SELECT ? AS s)", [s]
        ).fetchone()[0]
        for s in ids
    }
    assert want == got


def test_stores_carry_per_batch_recall_samples(spark, sf_dir, tmp_path):
    """Corpus-free monitor I/O: every committed batch of both stores
    carries a recall_sample dir (its own hash-subsample at the
    commit-time corpus rate), so the truth pass reads these small dirs —
    never the corpus payload. At test scale (corpus <= cap) the sample
    is the identity, pinning content as well as presence."""
    import pyarrow.parquet as _pq

    from ph_ee_nats_importer_rdbms_spark.analytics import (
        batch_store as bs,
        incremental_embeddings as ie,
        incremental_vectors as iv,
    )
    from ph_ee_nats_importer_rdbms_spark.analytics.similarity import (
        _codebook,
        _pq_books,
    )

    def rows_in(path):
        total = 0
        for dirpath, _d, files in __import__("os").walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    total += _pq.ParquetFile(
                        __import__("os").path.join(dirpath, f)
                    ).metadata.num_rows
        return total

    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    vroot = str(tmp_path / "vx")
    iv.build_vector_index(
        spark, e.filter(F.col("vec_id") < 300), vroot,
        _codebook(sf_dir), _pq_books(sf_dir),
    )
    iv.append_vectors(spark, e.filter(F.col("vec_id") >= 300), vroot)
    sizes = {m["batch"]: m["drift"]["n"] for m in bs.committed_batches(vroot)}
    for b, n in sizes.items():
        assert rows_in(f"{vroot}/recall_sample/{b}") == n

    eroot = str(tmp_path / "emb")
    ie.build_embedding_store(spark, e.filter(F.col("vec_id") < 300), eroot)
    ie.append_embedding_batch(spark, e.filter(F.col("vec_id") >= 300), eroot)
    for m in bs.committed_batches(eroot):
        n = m["structure_drift"]["n"]
        assert rows_in(f"{eroot}/recall_sample/{m['batch']}") == n
