"""Round-11 pins (VERDICT r10 task #1): the SQ16 pair pre-filter that
slims the SemDeDup within-cluster scoring and the embedding store's
candidate verify.

The filter's contract is LOSSLESSNESS, not recall: a pair may only be
dropped when the Cauchy–Schwarz bound proves even the most favorable
true dot cannot reach the exact filter's threshold. These tests pin
(a) the bound on adversarial near-threshold pairs — random correlated
vectors whose cosines cluster around the 0.40 threshold, (b) that the
bound is also TIGHT there (it filters; a vacuous bound would silently
ride extra cost at no volume reduction — the fate of the PQ-code
variant, whose e ≈ 0.57 reconstruction made its rigorous margin
unfilterable), and (c) output equality of the prefiltered builds
against the unfiltered paths on real data.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from ph_ee_nats_importer_rdbms_spark.analytics import similarity as sim


def _correlated_vectors(n: int, dim: int, seed: int = 11):
    """Vector families engineered so pair cosines land NEAR the 0.40
    threshold — the regime where a sloppy bound would actually lose
    pairs (random independent vectors almost never get close)."""
    rng = random.Random(seed)
    base = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(8)]
    rows = []
    for i in range(n):
        b = base[i % 8]
        noise = [rng.gauss(0, 1) for _ in range(dim)]
        # mixing angles spread cosines across ~[0.1, 0.9]
        alpha = 0.3 + 0.6 * rng.random()
        beta = math.sqrt(max(1e-9, 1 - alpha * alpha))
        rows.append(
            (i, [alpha * x + beta * y for x, y in zip(b, noise)])
        )
    return rows


def _pair_sides(meta):
    a = meta.select(
        F.col("vec_id").alias("vec_a"),
        *[F.col(c).alias(f"{c}_a") for c in sim.SQ16_COLS],
    )
    b = meta.select(
        F.col("vec_id").alias("vec_b"),
        *[F.col(c).alias(f"{c}_b") for c in sim.SQ16_COLS],
    )
    return a.crossJoin(b).filter(F.col("vec_a") < F.col("vec_b"))


def test_sq16_pair_prefilter_is_lossless_and_tight(spark):
    rows = _correlated_vectors(160, sim.EMBED_DIM)
    v = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    pairs = _pair_sides(sim.sq16_meta_of(v))
    kept = {
        (r["vec_a"], r["vec_b"])
        for r in pairs.filter(
            sim.sq16_pair_keep_col(sim.SEMDEDUP_COS)
        ).collect()
    }
    emb = {i: e for i, e in rows}

    def cos(x, y):
        d = sum(a_ * b_ for a_, b_ in zip(x, y))
        nx = math.sqrt(sum(t * t for t in x))
        ny = math.sqrt(sum(t * t for t in y))
        return round(d / (nx * ny), 4)

    qualifying = {
        (i, j)
        for i in emb
        for j in emb
        if i < j and cos(emb[i], emb[j]) >= sim.SEMDEDUP_COS
    }
    lost = qualifying - kept
    assert not lost, f"prefilter dropped qualifying pairs: {sorted(lost)[:5]}"
    assert qualifying, "test corpus produced no near-threshold pairs"
    # TIGHT: the int16 margin is ~2e-4, so kept ≈ qualifying — allow a
    # hairline band but fail if the bound degenerates toward keep-all
    total = len(rows) * (len(rows) - 1) // 2
    assert len(kept) <= len(qualifying) + 0.01 * total, (
        f"bound too loose: kept {len(kept)} of {total} "
        f"({len(qualifying)} qualify)"
    )


def test_semdedup_prefiltered_build_equals_exact_build(spark, sf_dir,
                                                       monkeypatch):
    """The production (prefiltered) SemDeDup build is row-identical to
    the unfiltered path on real data — the staged entry's oracle
    equality cannot move."""
    filtered = sim._semdedup_build(spark, sf_dir)
    monkeypatch.setattr(sim, "SEMDEDUP_SQ16_PREFILTER", False)
    exact = sim._semdedup_build(spark, sf_dir)
    cols = ["vec_id", "cluster_id", "centroid_cos", "dropped", "dup_of"]
    assert sorted(map(tuple, filtered.select(*cols).collect())) == sorted(
        map(tuple, exact.select(*cols).collect())
    )


def test_sq16_meta_error_is_exact_even_under_clamping(spark):
    """e16 is computed from the STORED codes, so a component past the
    quantizer's clamp range is priced into the bound, never assumed
    away; and the decoded relation round-trips: ‖x − q/s‖ == e16."""
    rows = [
        (0, [0.5] + [0.001] * (sim.EMBED_DIM - 1)),
        (1, [-0.3] * sim.EMBED_DIM),
        (2, [0.0] * sim.EMBED_DIM),  # all-zero: guarded scale, e = 0
    ]
    v = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = {r["vec_id"]: r for r in sim.sq16_meta_of(v).collect()}
    for vid, emb in rows:
        m = got[vid]
        dec = [c / m["s16"] for c in m["q16"]]
        e = math.sqrt(sum((x - d) ** 2 for x, d in zip(emb, dec)))
        assert abs(e - m["e16"]) < 1e-12
        assert abs(m["pnorm"] - math.sqrt(sum(x * x for x in emb))) < 1e-12
        rn = math.sqrt(sum(d * d for d in dec))
        assert abs(rn - m["rn16"]) < 1e-9


def test_estore_prefiltered_pairs_equal_exact_path(spark, sf_dir, tmp_path):
    """The embedding store's SQ16-prefiltered candidate path produces
    the identical verified-pair relation as the meta-less exact path
    over the same frozen bands — and the build and every append write
    the sketch (uniform shape)."""
    import os

    from ph_ee_nats_importer_rdbms_spark.analytics import (
        batch_store as bs,
        incremental_embeddings as ie,
    )
    from ph_ee_nats_importer_rdbms_spark.sources.files import load_table

    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    root = str(tmp_path / "estore")
    ie.build_embedding_store(
        spark, vecs.filter(F.col("vec_id") % 2 == 0), root
    )
    ie.append_embedding_batch(
        spark, vecs.filter(F.col("vec_id") % 2 == 1), root
    )
    batches = [m["batch"] for m in bs.committed_batches(root)]
    assert len(batches) == 2
    assert all(
        os.path.isdir(bs.batch_path(root, "sq16", b)) for b in batches
    )

    got = {
        (r["vec_a"], r["vec_b"], r["cosine"])
        for r in ie.read_pairs(spark, root).collect()
    }
    slim = ie._store_buckets(spark, root)
    vec = ie._store_vectors(spark, root)
    want = {
        tuple(r)
        for r in ie._verified_pairs(slim, slim, vec).collect()
    }
    assert got == want and got


def test_ivf_assign_argmax_is_hash_aggregate(spark, sf_dir):
    """The corpus×k assignment argmax must plan as a streaming
    HashAggregate: max_by's STRUCT ordering key silently fell back to
    SortAggregate — which external-sorts the entire crossJoin output
    (measured ~65 GB of sort spill at 2M×3907 before the round-11 fix
    packed the (ccos, -cid) order into one BIGINT)."""
    from ph_ee_nats_importer_rdbms_spark.sources.files import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    plan = sim.ivf_assign_of(
        spark, e, sim.IVF_CODEBOOKS["default"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan, plan[:2000]
    assert "HashAggregate" in plan


def test_packed_argmax_matches_struct_ordering(spark, sf_dir):
    """The BIGINT-packed (ccos, -cid) key picks the identical cluster as
    the old struct ordering on real data — same winner, same low-cid
    tie-break."""
    from ph_ee_nats_importer_rdbms_spark.sources.files import load_table

    book = sim._semdedup_codebook(sf_dir)
    cent = spark.createDataFrame(
        [(c, v) for c, v in enumerate(book)], "cid INT, cemb ARRAY<DOUBLE>"
    )
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cid", F.round(sim._cosine("embedding", "cemb"), 6).alias("ccos")
    )
    want = {
        r["vec_id"]: r["c"]
        for r in scored.groupBy("vec_id")
        .agg(F.max_by("cid", F.struct(F.col("ccos"), -F.col("cid"))).alias("c"))
        .collect()
    }
    got = {
        r["vec_id"]: r["cluster_id"]
        for r in sim.ivf_assign_of(spark, e, book).collect()
    }
    assert got == want


def test_blas_fence_fallback_is_live_and_identical(spark, sf_dir,
                                                   monkeypatch):
    """Force the fence to flag EVERY row: the exact-SQL fallback branch
    must then produce the full assignment, identical to the normal
    (BLAS) path — proving the fallback is live, correct, and that the
    two kernels agree row-for-row on real data."""
    from ph_ee_nats_importer_rdbms_spark.sources.files import load_table

    book = sim._semdedup_codebook(sf_dir)
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    normal = {
        r["vec_id"]: r["cluster_id"]
        for r in sim.ivf_assign_of(spark, e, book).collect()
    }
    monkeypatch.setattr(sim, "IVF_BLAS_FENCE", float("inf"))
    forced = {
        r["vec_id"]: r["cluster_id"]
        for r in sim.ivf_assign_of(spark, e, book).collect()
    }
    assert forced == normal and len(normal) == e.count()
