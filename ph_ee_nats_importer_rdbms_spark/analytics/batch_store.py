"""Manifest-transaction layer of the batch-versioned analytics stores.

The minimal slice of a Delta/Iceberg commit the incremental stores need
(single writer, append-mostly). This is the ONLY module that knows the
store format; every incremental store (incremental_docs,
incremental_curation on top of it, incremental_vectors,
incremental_embeddings, incremental_training) calls it directly::

    _batches/<seq>_<batch>.json   commit marker, written LAST (atomic
                                  tmp + os.replace); a batch dir
                                  without a manifest is invisible
    <artifact>/<batch>/           one parquet dir per artifact per batch

Per-batch artifact directories are INVISIBLE until a commit manifest
lands; a crashed append leaves only manifest-less garbage that the
idempotent retry overwrites in place.

Batch ids are content digests (sha256 of the sorted (key, row-hash)
pairs, computed engine-side — one scalar to the driver), which is what
makes a retried or checkpoint-replayed delivery map onto the same
directories while a same-ids-different-payload delivery gets a fresh id
(and so hits the re-delivery guard instead of the replay skip).
:func:`begin_append` is the one append guard and :func:`foreach_batch_sink`
the one streaming sink: a replayable source plus this idempotent sink is
the exactly-once composition of Structured Streaming (SIGMOD 2018).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

BASE_BATCH = "base"

#: Batch-id scheme version recorded in every commit manifest: scheme 2
#: digests (key, row-hash) pairs (:func:`batch_id_of`). Only scheme-2 ids
#: are recognized as replays; a manifest without the field (scheme 1, a
#: digest of the key set alone) never matches, so replaying its delivery
#: fails loudly on the delivered-keys guard instead of being skipped.
ID_SCHEME = 2


def manifest_dir(root: str) -> str:
    return os.path.join(root, "_batches")


def batch_path(root: str, name: str, batch: str) -> str:
    return os.path.join(root, name, batch)


def manifest_name(manifest: dict) -> str:
    return f"{manifest['seq']:06d}_{manifest['batch']}.json"


def committed_batches(root: str) -> list[dict]:
    """Commit manifests in sequence order — the store's visible state."""
    mdir = manifest_dir(root)
    try:
        names = sorted(n for n in os.listdir(mdir) if n.endswith(".json"))
    except OSError:
        return []
    out = []
    for n in names:
        with open(os.path.join(mdir, n)) as f:
            out.append(json.load(f))
    return out


def commit(root: str, manifest: dict) -> None:
    """Write the commit marker atomically — the ONLY point at which a
    batch becomes visible. Stamps the current batch-id scheme version so
    future readers know how the manifest's ``batch`` digest was
    computed."""
    manifest.setdefault("id_scheme", ID_SCHEME)
    mdir = manifest_dir(root)
    os.makedirs(mdir, exist_ok=True)
    name = manifest_name(manifest)
    tmp = os.path.join(mdir, f".{name}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
        f.write("\n")
    os.replace(tmp, os.path.join(mdir, name))


def write_artifacts(root: str, batch: str, dfs: dict[str, DataFrame]) -> None:
    from ph_ee_nats_importer_rdbms_spark.sources.files import compact_for_write

    # AQE-sized files (r13, guide §6): a map-only artifact otherwise
    # writes one ≈8 KB file per input partition and every store READ
    # pays the per-file tax on every query
    for name, df in dfs.items():
        compact_for_write(df).write.mode("overwrite").parquet(
            batch_path(root, name, batch)
        )


def manifest_fingerprint(root: str, committed: list[dict]) -> tuple:
    """(name, size, mtime_ns) of each committed manifest — a cache key
    for read paths that memoize per committed state. Every commit writes
    its manifest through os.replace, so a store rebuilt at the same path
    (whose base batch is always named "base") still changes the key."""
    mdir = manifest_dir(root)
    out = []
    for m in committed:
        name = manifest_name(m)
        st = os.stat(os.path.join(mdir, name))
        out.append((name, st.st_size, st.st_mtime_ns))
    return tuple(out)


def read_union(
    spark: SparkSession, root: str, name: str, schema: T.StructType | str
) -> DataFrame:
    """Union of an artifact across COMMITTED batches only — a crashed
    append's manifest-less directories are never read. The schema is
    explicit: an artifact can have an empty dir (no pairs yet)."""
    paths = [
        batch_path(root, name, m["batch"]) for m in committed_batches(root)
    ]
    return spark.read.schema(schema).parquet(*paths)


def artifact_count(root: str, name: str, batch: str) -> int:
    """Row count of ONE batch's written artifact from parquet FOOTER
    metadata — zero Spark jobs (VERDICT r8 task #4: delivery-time sizing
    shares the serving side's footer/manifest discipline instead of
    launching a count() job per number). Raises when the artifact was
    never written — a sizing read against a missing artifact is a bug,
    not an empty store."""
    from ph_ee_nats_importer_rdbms_spark.plans.staging import parquet_row_count

    n = parquet_row_count(batch_path(root, name, batch))
    if n is None:
        raise FileNotFoundError(
            f"no readable parquet at {batch_path(root, name, batch)}"
        )
    return n


def committed_count(root: str, name: str) -> int:
    """Total rows of an artifact across COMMITTED batches, from footers
    only — the count is delivery-proportional in FILES but zero Spark
    jobs, correct even on stores whose pre-upgrade manifests carry no
    running total."""
    return sum(
        artifact_count(root, name, m["batch"])
        for m in committed_batches(root)
    )


def batch_id_of(df: DataFrame, key: str) -> str:
    """Deterministic content digest of the batch: sha256 over the sorted
    ``(key, xxhash64(all columns))`` pairs. Hashing the PAYLOAD, not just
    the key set, is what lets ``skip_committed`` distinguish a true
    checkpoint replay (byte-identical → same id → skipped) from a
    delivery that reuses seen ids with DIFFERENT content (different id →
    surfaced to the re-delivery guard instead of silently dropped).
    Columns enter the row hash in sorted-name order so projection order
    can't change the id."""
    cols = sorted(df.columns)
    pair = F.concat_ws(
        ":",
        F.col(key).cast("string"),
        F.xxhash64(*[F.col(c) for c in cols]).cast("string"),
    )
    row = df.agg(
        F.sha2(
            F.concat_ws(",", F.sort_array(F.collect_list(pair))), 256
        ).alias("h")
    ).collect()[0]
    return row["h"][:16]


def is_replay(df: DataFrame, root: str, key: str) -> bool:
    """True when this exact delivery (same content digest) is already
    committed — the cheap probe (one config-sized digest agg, no
    artifact reads), so wrappers that compute pre-commit statistics can
    short-circuit a replay before paying for them."""
    batch = batch_id_of(df, key)
    return any(m["batch"] == batch for m in committed_batches(root))


def begin_append(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    key: str,
    who: str,
    held: str,
    skip_committed: bool,
) -> tuple[list[dict], str] | None:
    """The append guard of every store: returns (committed manifests,
    batch id) for a delivery that may go ahead, or None for a replay of
    an already-committed batch under ``skip_committed`` (the caller then
    returns its no-op stats).

    Raises ``ValueError`` for a committed batch without
    ``skip_committed``, and for a delivery that re-delivers a key of the
    committed ``delivered`` artifact (``{key} long``) — a same-ids,
    different-payload delivery gets a fresh id and lands here, never in
    the replay skip. ``who`` names the append in the messages and
    ``held`` says where the key already is ("already in the store")."""
    committed = committed_batches(root)
    batch = batch_id_of(df, key)
    if any(m["batch"] == batch for m in committed):
        if skip_committed:
            return None
        raise ValueError(
            f"{who}: batch {batch} already committed — "
            "this exact delivery has been applied (retry after success?)"
        )
    delivered = read_union(spark, root, "delivered", f"{key} long")
    dup = df.select(key).join(delivered, key, "leftsemi").limit(1).collect()
    if dup:
        raise ValueError(
            f"{who}: {key} {dup[0][0]} {held} — "
            f"deliveries must carry new {key}s"
        )
    return committed, batch


def foreach_batch_sink(append, root: str):
    """``foreachBatch`` sink folding a stream of deliveries (a landing
    zone read with ``readStream``) into a store micro-batch by
    micro-batch; ``append(spark, df, root, skip_committed=...)`` is the
    store's append function.

    Exactly-once composition: the checkpoint replays a failed micro-batch
    with identical content, the batch id is a digest of that content,
    and ``skip_committed`` turns the replay into a no-op — no sink-side
    offset bookkeeping."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            append(batch_df.sparkSession, batch_df, root, skip_committed=True)

    return sink


def hash_subsample(
    df: DataFrame, n_total: int, cap: int, key: str, salt: str
) -> DataFrame:
    """Deterministic ~``cap``-row subsample of an ``n_total``-row relation
    (identity map when it already fits): hash-threshold on the key, so
    the subsample is stable across runs and needs no count job. ONE
    implementation for every store's measured-recall truth pass — the
    ppm-threshold rule must not fork per store."""
    if n_total <= cap:
        return df
    frac_ppm = int(1_000_000 * cap / n_total)
    return df.filter(
        F.pmod(F.xxhash64(F.col(key), F.lit(salt)), F.lit(1_000_000))
        < frac_ppm
    )
